"""Round-10 additions: policy-triggered LSM compaction + the
reconstructibility guard on IdempotentParquetSink, streaming index
maintenance for the two embedding families (completing the lifecycle
matrix), frame-level video near-dup, semantic dedup (SemDeDup), the
media survivor policy, and the two r9 ADVICE fixes (watermark-delay
fullmatch, knn_graph lazy guard)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_engagement_pipeline_spark.llm import cluster as lc
from flink_engagement_pipeline_spark.llm import dedup as ld
from flink_engagement_pipeline_spark.llm import multimodal as lm
from flink_engagement_pipeline_spark.llm import similarity as ls
from flink_engagement_pipeline_spark.sources.tables import load_table
from flink_engagement_pipeline_spark.streaming.sinks import (
    IdempotentParquetSink,
)

# ---------------------------------------------------------------------------
# sink: policy-triggered compaction + reconstructibility guard
# ---------------------------------------------------------------------------


def test_maybe_compact_policy_and_bound(spark, tmp_path):
    """The LSM policy knob: maybe_compact folds iff live deltas below
    ``upto`` have reached max_live_deltas, the fold NEVER touches the
    in-flight id (>= upto), and the snapshot marker records the
    folded-id manifest."""
    import json

    sink = IdempotentParquetSink(str(tmp_path))
    for b in range(4):
        sink.write_batch(spark.range(3).withColumn("b", F.lit(b)), b)
    assert sink.maybe_compact(spark, upto=2, max_live_deltas=3) is None
    snap = sink.maybe_compact(spark, upto=3, max_live_deltas=3)
    assert snap is not None and snap.endswith("compact=2")
    # in-flight delta 3 untouched; folded deltas pruned
    assert (tmp_path / "batch_id=3").exists()
    assert not (tmp_path / "batch_id=0").exists()
    assert json.load(open(os.path.join(snap, "_COMMITTED"))) == [0, 1, 2]
    # readers: below the in-flight batch = the snapshot alone
    assert sink.committed_paths(below=3) == [snap]
    assert sink.read_committed(spark).count() == 12
    # chained compaction unions manifests
    sink.write_batch(spark.range(2).withColumn("b", F.lit(9)), 9)
    snap2 = sink.compact(spark, below=10)
    assert json.load(open(os.path.join(snap2, "_COMMITTED"))) == [0, 1, 2, 3, 9]


def test_committed_paths_raises_when_folded_past_below(spark, tmp_path):
    """The r9 ADVICE hazard made LOUD: after an unbounded pruning
    compaction folds id b, the strictly-below-b view is gone —
    committed_paths(below=b) must raise, never silently return
    partial state (a crash-replay computing against it would commit
    wrong deltas). The full view and views at or above the snapshot
    stay served."""
    sink = IdempotentParquetSink(str(tmp_path))
    for b in range(3):
        sink.write_batch(spark.range(2).withColumn("b", F.lit(b)), b)
    snap = sink.compact(spark)  # unbounded: folds 0..2, prunes deltas
    assert snap.endswith("compact=2")
    with pytest.raises(RuntimeError, match="not reconstructible"):
        sink.committed_paths(below=2)
    with pytest.raises(RuntimeError, match="not reconstructible"):
        sink.committed_paths(below=1)
    # boundary: below=3 is exactly the snapshot; full view unchanged
    assert sink.committed_paths(below=3) == [snap]
    assert sink.read_committed(spark).count() == 6
    # prune=False keeps deltas live: every below-view reconstructible
    sink2 = IdempotentParquetSink(str(tmp_path / "np"))
    for b in range(3):
        sink2.write_batch(spark.range(2).withColumn("b", F.lit(b)), b)
    sink2.compact(spark, prune=False)
    assert len(sink2.committed_paths(below=2)) == 2  # deltas 0, 1


def test_folded_ids_legacy_marker_conservative(spark, tmp_path):
    """A compact= snapshot whose marker predates the folded-id
    manifest (empty file) must be treated as having folded EVERYTHING
    up to its id — the guard can only raise MORE often, never
    silently serve partial state."""
    import os as _os

    sink = IdempotentParquetSink(str(tmp_path))
    sink.write_batch(spark.range(1), 0)
    sink.write_batch(spark.range(1), 1)
    snap = sink.compact(spark)
    with open(_os.path.join(snap, "_COMMITTED"), "w"):
        pass  # blank the manifest: the legacy pre-round-10 marker
    with pytest.raises(RuntimeError, match="not reconstructible"):
        sink.committed_paths(below=1)
    # the full view (and views at/after the snapshot) still serve
    assert sink.committed_paths() == [snap]
    assert sink.committed_paths(below=2) == [snap]


def test_redelivered_batch_racing_bounded_compaction(spark, sf_dir, tmp_path):
    """The pin the r9 verdict asked for: a redelivered batch racing a
    (bounded) compaction still yields the identical committed output.
    Batch 1's maintenance step — maybe_compact(upto=1) folding delta
    0, reading state below 1, committing its deltas — is run TWICE
    (the at-least-once redelivery after a crash between sink commit
    and checkpoint commit); the second run must be a no-op: same
    snapshot, marker-skipped writes, byte-identical committed state."""
    docs = load_table(spark, sf_dir, "documents")
    index_sink = IdempotentParquetSink(str(tmp_path / "index"))
    pairs_sink = IdempotentParquetSink(str(tmp_path / "pairs"))

    def apply(bid):
        half = docs.filter((F.col("doc_id") % 2) == bid).select(
            "doc_id", "text"
        )
        index_sink.maybe_compact(spark, upto=bid, max_live_deltas=1)
        prev = index_sink.committed_paths(below=bid)
        if prev:
            corpus_bands = spark.read.option(
                "pathGlobFilter", "*.parquet"
            ).parquet(*prev).select("doc_id", "band_idx", "key")
            corpus_docs = docs.join(
                corpus_bands.select("doc_id").distinct(), "doc_id", "leftsemi"
            ).select("doc_id", "text")
        else:
            corpus_bands = ld.portable_band_index(
                ld.portable_base(docs.limit(0))
            )
            corpus_docs = docs.limit(0).select("doc_id", "text")
        new_pairs = ld.streaming_portable_ingest_pairs(
            half, corpus_bands, corpus_docs
        )
        index_sink.write_batch(
            ld.portable_band_index(ld.portable_base(half)), bid
        )
        pairs_sink.write_batch(new_pairs, bid)

    apply(0)
    apply(1)  # folds delta 0 into compact=0, reads the snapshot
    snap = os.path.join(str(tmp_path / "index"), "compact=0")
    assert os.path.exists(os.path.join(snap, "_COMMITTED"))

    def state():
        idx = sorted(
            map(tuple, index_sink.read_committed(spark).collect())
        )
        prs = sorted(
            map(tuple, pairs_sink.read_committed(spark).collect())
        )
        return idx, prs, sorted(index_sink.committed_paths()), sorted(
            pairs_sink.committed_paths()
        )

    before = state()
    apply(1)  # redelivery: marker-skipped, nothing re-folds
    assert state() == before
    # and the accumulated result is still the whole-corpus rebuild
    got = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in pairs_sink.read_committed(spark).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in ld.portable_minhash_pairs(docs).collect()
    }
    assert got == want and want


# ---------------------------------------------------------------------------
# streaming embedding index maintenance
# ---------------------------------------------------------------------------


def test_stream_neardup_replay_matches_batch_rebuild(spark, sf_dir, tmp_path):
    """The hyperplane-LSH instance of delta-append maintenance: the
    union of per-batch pair deltas equals the whole-corpus
    near_dup_pairs rebuild; the mid-stream POLICY compaction fired
    (batch 0's index delta folded into compact=0 before batch 1 read
    its state); batch 1's delta holds only its parity half."""
    from flink_engagement_pipeline_spark.plans.queries_ext7 import (
        _SEMDEDUP_THRESHOLD,
        run_neardup_index_replay,
    )

    tmp = str(tmp_path)
    got = {
        (r["vec_a"], r["vec_b"], round(r["cosine"], 9))
        for r in run_neardup_index_replay(spark, sf_dir, tmp).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings")
    want = {
        (r["vec_a"], r["vec_b"], round(r["cosine"], 9))
        for r in ls.near_dup_pairs(
            emb, threshold=_SEMDEDUP_THRESHOLD
        ).collect()
    }
    assert got == want and want
    # arrival-order non-vacuity: some pair's smaller id is odd (its
    # even partner arrived a batch earlier)
    assert any(a % 2 == 1 and b % 2 == 0 for a, b, _ in want)
    # policy compaction ran mid-stream: snapshot exists, delta 0 gone
    assert os.path.exists(
        os.path.join(tmp, "index", "compact=0", "_COMMITTED")
    )
    assert not os.path.exists(os.path.join(tmp, "index", "batch_id=0"))
    d1 = spark.read.option("pathGlobFilter", "*.parquet").parquet(
        os.path.join(tmp, "index", "batch_id=1")
    )
    ps = {
        r["p"]
        for r in d1.select((F.col("vec_id") % 2).alias("p"))
        .distinct()
        .collect()
    }
    assert ps == {1}
    # pair deltas are disjoint (each pair commits once, in the batch
    # whose member arrived later) and together are the full result
    p0 = spark.read.parquet(os.path.join(tmp, "pairs", "batch_id=0"))
    p1 = spark.read.parquet(os.path.join(tmp, "pairs", "batch_id=1"))
    k = lambda r: (r["vec_a"], r["vec_b"])  # noqa: E731
    s0, s1 = set(map(k, p0.collect())), set(map(k, p1.collect()))
    assert not (s0 & s1)
    assert s0 | s1 == {(a, b) for a, b, _ in want}


def test_neardup_index_replay_restarts_after_crash(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A real crash and restart of an index-maintenance replay: batch 1
    raises after the index sink committed it (and after the policy
    compaction folded batch 0 into compact=0), before the pairs sink
    writes it. Restarting from the same directory re-stages the source,
    redelivers batch 1 from the checkpoint, and leaves the committed
    index and pairs equal to an uninterrupted run's."""
    from flink_engagement_pipeline_spark.plans.queries_ext7 import (
        run_neardup_index_replay,
    )

    write_batch = IdempotentParquetSink.write_batch
    delivered = []

    def crash_once(self, df, batch_id):
        sink = os.path.basename(self.out_dir)
        delivered.append((sink, batch_id))
        if (sink, batch_id) == ("pairs", 1) and delivered.count(
            ("pairs", 1)
        ) == 1:
            raise RuntimeError("injected crash before pairs commit")
        write_batch(self, df, batch_id)

    def committed(tmp):
        return [
            sorted(
                map(
                    tuple,
                    IdempotentParquetSink(os.path.join(tmp, name))
                    .read_committed(spark)
                    .collect(),
                )
            )
            for name in ("index", "pairs")
        ]

    ref, tmp = str(tmp_path / "ref"), str(tmp_path / "crash")
    run_neardup_index_replay(spark, sf_dir, ref)

    monkeypatch.setattr(IdempotentParquetSink, "write_batch", crash_once)
    with pytest.raises(Exception, match="injected crash before pairs commit"):
        run_neardup_index_replay(spark, sf_dir, tmp)
    assert os.path.exists(
        os.path.join(tmp, "index", "compact=0", "_COMMITTED")
    )
    assert os.path.exists(
        os.path.join(tmp, "index", "batch_id=1", "_COMMITTED")
    )
    assert not os.path.exists(os.path.join(tmp, "pairs", "batch_id=1"))

    run_neardup_index_replay(spark, sf_dir, tmp)  # restart, same tmp
    assert delivered == [
        ("index", 0), ("pairs", 0),
        ("index", 1), ("pairs", 1),
        ("index", 1), ("pairs", 1),
    ]
    got, want = committed(tmp), committed(ref)
    assert got == want and all(want)


def test_stream_ivf_replay_matches_pinned_rebuild(spark, sf_dir, tmp_path):
    """IVF codes maintenance under the pinned quantizer: the union of
    per-batch (vec_id, cluster) deltas equals assigning the WHOLE
    corpus against the offline-trained centroids (append == rebuild,
    the ivf_ingest property carried to the streaming path), with the
    policy compaction folding mid-stream."""
    from flink_engagement_pipeline_spark.plans.queries_ext7 import (
        run_ivf_index_replay,
    )

    tmp = str(tmp_path)
    got = sorted(
        (r["vec_id"], r["cluster"])
        for r in run_ivf_index_replay(spark, sf_dir, tmp).collect()
    )
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ls._centroids(emb)
    want = sorted(
        (r["vec_id"], r["cluster"])
        for r in ls.ivf_assignments(emb, cents).collect()
    )
    assert got == want and want
    assert os.path.exists(
        os.path.join(tmp, "codes", "compact=0", "_COMMITTED")
    )
    assert not os.path.exists(os.path.join(tmp, "codes", "batch_id=0"))


def test_streaming_neardup_ingest_arrival_order(spark):
    """Unit pin: a smaller id arriving after its identical-embedding
    partner (already in the index) must still pair — a screen keyed
    on new id > indexed id would lose it."""
    vec = [1.0] * 64
    emb = spark.createDataFrame(
        [(10, vec), (3, vec)], "vec_id long, embedding array<float>"
    )
    first = emb.filter(F.col("vec_id") == 10)
    second = emb.filter(F.col("vec_id") == 3)
    idx = ls.neardup_index(first)
    got = ls.streaming_neardup_ingest_pairs(second, idx, first).collect()
    assert [(r["vec_a"], r["vec_b"]) for r in got] == [(3, 10)]
    assert got[0]["cosine"] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# frame-level video near-dup
# ---------------------------------------------------------------------------


def test_media_video_frames_match_sample_frames_fake(spark, sf_dir):
    """The JVM-side frame fan-out must agree with the mapInPandas
    fake it replaces (sample_frames): same (doc, frame_idx) set, and
    md5 of each fanned-out frame payload equals sample_frames'
    per-frame digest — the two devices are one convention."""
    import hashlib

    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = lm.docs_as_media(docs)
    frames = lm.media_video_frames(media)
    got = {
        (
            r["doc_id"] // 64,
            r["doc_id"] % 64,
            hashlib.md5(bytes(r["payload"])).hexdigest(),
        )
        for r in frames.collect()
    }
    want = {
        (r["doc_id"], r["frame_idx"], r["frame_md5"])
        for r in lm.sample_frames(media, fake=True).collect()
    }
    assert got == want and want


def test_media_video_neardup_semantics(spark):
    """Planted pin: identical payloads share every frame (frac 1.0,
    counts consistent with the fake's n_frames), unrelated payloads
    produce no pair, and matched counts never exceed sampled frame
    counts."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "one completely different set of words entirely here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in lm.media_video_neardup(lm.docs_as_media(docs)).collect()
    }
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    # identical payload => identical n_frames and full frame match
    assert r["frames_a"] == r["frames_b"]
    assert r["matched_a"] == r["frames_a"]
    assert r["matched_b"] == r["frames_b"]
    assert r["match_frac"] == 1.0


def test_media_video_pairs_consistent_with_doc_phash(spark, sf_dir):
    """Cross-family consistency on the fixture: the fake derives
    frame content from doc content, so every video pair must be a
    doc-level pHash pair and vice versa at the shared thresholds, and
    matched counts stay bounded by the sampled frame counts."""
    docs = load_table(spark, sf_dir, "documents")
    media = lm.docs_as_media(docs)
    vid = {
        (r["doc_a"], r["doc_b"]): r
        for r in lm.media_video_neardup(media).collect()
    }
    doc_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lm.media_phash_pairs(media).collect()
    }
    assert set(vid) == doc_pairs and doc_pairs
    for r in vid.values():
        assert 0 < r["matched_a"] <= r["frames_a"]
        assert 0 < r["matched_b"] <= r["frames_b"]
        assert r["match_frac"] >= 0.5


def test_stream_media_video_replay_matches_batch_rebuild(spark, sf_dir, tmp_path):
    """Video frame-index streaming maintenance: the union of
    per-batch scored-pair deltas equals the whole-corpus
    media_video_neardup rebuild (counts, denominators, and fractions
    included — everything the score needs lives in the index at pair
    time), with the policy compaction folding mid-stream."""
    from flink_engagement_pipeline_spark.plans.queries_ext7 import (
        run_media_video_index_replay,
    )

    tmp = str(tmp_path)
    pk = lambda r: (  # noqa: E731
        r["doc_a"], r["doc_b"], r["matched_a"], r["matched_b"],
        r["frames_a"], r["frames_b"], round(r["match_frac"], 9),
    )
    got = sorted(
        map(pk, run_media_video_index_replay(spark, sf_dir, tmp).collect())
    )
    docs = load_table(spark, sf_dir, "documents")
    want = sorted(
        map(pk, lm.media_video_neardup(lm.docs_as_media(docs)).collect())
    )
    assert got == want and want
    # arrival-order non-vacuity + mid-stream policy fold
    assert any(a % 2 == 1 and b % 2 == 0 for a, b, *_ in want)
    assert os.path.exists(
        os.path.join(tmp, "index", "compact=0", "_COMMITTED")
    )
    assert not os.path.exists(os.path.join(tmp, "index", "batch_id=0"))


def test_streaming_media_video_arrival_order(spark):
    """Unit pin: a smaller video id arriving after its
    identical-payload partner (already in the frame index) still
    pairs at match_frac 1.0 — per-side frame attribution must follow
    the id normalization, not arrival order."""
    rows = [
        (10, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = lm.media_phash_buckets(
        lm.media_video_frames(
            lm.docs_as_media(docs.filter(F.col("doc_id") == 10))
        )
    )
    got = lm.streaming_media_video_ingest_pairs(
        lm.docs_as_media(docs.filter(F.col("doc_id") == 3)), idx
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_a"], r["doc_b"]) == (3, 10)
    assert r["frames_a"] == r["frames_b"] == r["matched_a"] == r["matched_b"]
    assert r["match_frac"] == 1.0


def test_media_video_lifecycle_equivalences(spark, sf_dir):
    """The video frame index obeys the lifecycle algebra in its birth
    round: ingest(corpus index, batch) finds exactly the full
    rebuild's pairs whose larger video is in the batch, and
    delete == rebuild-without-X through the served tail (which
    derives frame counts from the index, so the takedown needs no
    other input)."""
    docs = load_table(spark, sf_dir, "documents")
    media = lm.docs_as_media(docs)
    cut = docs.agg(F.expr("max(doc_id) * 4 div 5").alias("c")).first()["c"]
    pk = lambda r: (  # noqa: E731
        r["doc_a"], r["doc_b"], r["matched_a"], r["matched_b"],
        r["frames_a"], r["frames_b"], round(r["match_frac"], 9),
    )
    full = lm.media_video_neardup(media)
    # ingest == rebuild restricted to batch-touching pairs
    corpus_idx = lm.media_phash_buckets(
        lm.media_video_frames(
            lm.docs_as_media(docs.filter(F.col("doc_id") < cut))
        )
    )
    got = sorted(
        map(
            pk,
            lm.streaming_media_video_ingest_pairs(
                lm.docs_as_media(docs.filter(F.col("doc_id") >= cut)),
                corpus_idx,
            ).collect(),
        )
    )
    want = sorted(
        pk(r) for r in full.collect() if r["doc_b"] >= cut
    )
    assert got == want and got
    # delete == rebuild-without-X through the served tail
    index = lm.media_phash_buckets(lm.media_video_frames(media))
    del_vids = docs.filter(F.col("doc_id") % 6 == 0).select(
        F.col("doc_id").alias("vid")
    )
    kept = (
        index.withColumn("vid", F.expr("doc_id div 64"))
        .join(del_vids, "vid", "anti")
        .drop("vid")
    )
    served = sorted(
        map(pk, lm.media_video_pairs_from_index(kept).collect())
    )
    rebuilt = sorted(
        map(
            pk,
            lm.media_video_neardup(
                lm.docs_as_media(docs.filter(F.col("doc_id") % 6 != 0))
            ).collect(),
        )
    )
    assert served == rebuilt


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------


def test_semantic_dedup_matches_python_policy(spark, sf_dir):
    """The keep/drop decision must equal an independent Python
    replication of the SemDeDup policy over the SAME kmeans
    assignment: drop v iff some u < v in v's cluster has
    cosine(u, v) >= threshold."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        r["vec_id"]: (r["cluster"], r["is_kept"])
        for r in lc.semantic_dedup(emb, threshold=0.35).collect()
    }
    cents = lc.train_kmeans(emb, 8, 3)
    assigned = lc.assign_clusters(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        cents,
    ).collect()
    by_cluster: dict[int, list] = {}
    for r in assigned:
        by_cluster.setdefault(r["cluster"], []).append(
            (r["vec_id"], list(r["v"]))
        )

    def cos(a, b):
        d = n1 = n2 = 0.0
        for x, y in zip(a, b):
            d += x * y
            n1 += x * x
            n2 += y * y
        return d / (math.sqrt(n1) * math.sqrt(n2))

    want = {}
    for cl, members in by_cluster.items():
        members.sort()
        for i, (vid, v) in enumerate(members):
            dropped = any(
                cos(u, v) >= 0.35 for _, (uid, u) in enumerate(members[:i])
            )
            want[vid] = (cl, not dropped)
    assert got == want
    kept = sum(1 for _, k in got.values() if k)
    assert 0 < kept < len(got)  # non-vacuous both ways


def test_assign_clusters_pandas_matches_catalyst(spark, sf_dir):
    """The numpy-matmul scale path must produce the identical
    assignment (and keep/drop decision) as the oracle-exact literal
    form on the fixture — same argmin, same lowest-cluster tie rule
    (ties are measure-zero on real data; the fixture has none)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = lc.train_kmeans(emb, 8, 3)
    cat = sorted(
        (r["vec_id"], r["cluster"])
        for r in lc.assign_clusters(e, cents).collect()
    )
    pan = sorted(
        (r["vec_id"], r["cluster"])
        for r in lc.assign_clusters(e, cents, impl="pandas").collect()
    )
    assert cat == pan
    a = sorted(map(tuple, lc.semantic_dedup(emb).collect()))
    b = sorted(map(tuple, lc.semantic_dedup(emb, impl="pandas").collect()))
    assert a == b


def test_semantic_dedup_pair_budget_guard(spark, sf_dir):
    """A k too small for the corpus must refuse loudly (naming the
    oversized clusters) instead of scheduling a quasi-all-pairs
    within-cluster join — the knn_graph guard pattern on the
    composed pipeline."""
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="within-cluster pairs"):
        lc.semantic_dedup(emb, max_candidate_pairs=10)


def test_semantic_dedup_broadcast_degrade(spark, sf_dir, monkeypatch):
    """The keep/drop join broadcast-hints the dropped-id set only
    below _BROADCAST_ID_LIMIT (r10 verdict ask #2: SemDeDup at web
    scale drops O(corpus) vectors, so the unconditional hint was the
    exact hazard _semi_prune solves — hint below the limit,
    planner-chosen join above it). The size gate reuses the
    pair-budget metadata, so no extra job runs either way, and the
    result is identical on both paths."""
    from flink_engagement_pipeline_spark.llm import dedup as ldd

    emb = load_table(spark, sf_dir, "embeddings")

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    small = lc.semantic_dedup(emb, threshold=0.35)
    assert "hint" in optimized(small).lower()
    monkeypatch.setattr(ldd, "_BROADCAST_ID_LIMIT", 0)
    big = lc.semantic_dedup(emb, threshold=0.35)
    assert "hint" not in optimized(big).lower()
    assert sorted(map(tuple, small.collect())) == sorted(
        map(tuple, big.collect())
    )


def test_semantic_dedup_plan_no_cartesian(spark, sf_dir):
    """The within-cluster screen must plan as a cluster-keyed
    equi-join (the SemDeDup bounded candidate space) — never a
    CartesianProduct, never a per-row Python eval."""
    emb = load_table(spark, sf_dir, "embeddings")
    plan = (
        lc.semantic_dedup(emb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# media survivor policy
# ---------------------------------------------------------------------------


def test_media_dedup_survivors_policy(spark, sf_dir):
    """Every pHash cluster keeps exactly one survivor — its highest-
    quality member (doc_id tiebreak) — and cluster membership equals
    the connected components of the pair graph."""
    from flink_engagement_pipeline_spark.plans.registry import REGISTRY

    rows = REGISTRY["media_dedup_survivors"].spark(spark, sf_dir).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert len(rows) == load_table(spark, sf_dir, "documents").count()
    multi = 0
    for cl, members in by_cluster.items():
        survivors = [r for r in members if r["is_survivor"]]
        assert len(survivors) == 1
        best = max(
            members, key=lambda r: (r["quality_score"], -r["doc_id"])
        )
        assert survivors[0]["doc_id"] == best["doc_id"]
        assert all(r["survivor_id"] == best["doc_id"] for r in members)
        if len(members) > 1:
            multi += 1
    assert multi > 0  # fixture has real near-dup clusters


# ---------------------------------------------------------------------------
# r9 ADVICE fixes
# ---------------------------------------------------------------------------


def test_parse_delay_rejects_partial_matches():
    """'90.5 minutes' must raise, not silently parse as 5 minutes
    (the r9 ADVICE finding); valid compound strings still parse."""
    from flink_engagement_pipeline_spark.operators.windows import (
        parse_interval_us,
    )

    assert parse_interval_us("1 hour 30 minutes") == 5_400_000_000
    assert parse_interval_us("90 minutes") == 5_400_000_000
    assert parse_interval_us("10 seconds") == 10_000_000
    for bad in ("90.5 minutes", "1.5 hours", "5 minutes max", "", "soon"):
        with pytest.raises(ValueError):
            parse_interval_us(bad)


def test_knn_graph_lazy_guard(spark, sf_dir):
    """knn_graph with a precomputed n_rows must not run the eager
    count: an oversized declared corpus raises immediately, an
    in-bounds one builds the (lazy) plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="O\\(n\\^2\\)"):
        ls.knn_graph(emb, n_rows=10**9)
    df = ls.knn_graph(emb, n_rows=100)  # no job: plan only
    assert df.columns == ["a_id", "b_id", "cosine", "rn"]
