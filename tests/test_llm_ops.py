"""Dedicated oracles for the approximate / non-SQL LLM operators:
recall against exact baselines, pure-Python signature recomputation,
and the multimodal stub contract."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from flink_engagement_pipeline_spark.llm import dedup as ld
from flink_engagement_pipeline_spark.llm import multimodal as lm
from flink_engagement_pipeline_spark.llm import similarity as ls
from flink_engagement_pipeline_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_minhash_lsh_recall(docs):
    """LSH candidates must contain (almost all of) the true >=0.5
    Jaccard pairs without degenerating into all-pairs."""
    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in ld.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    cand = {(r["doc_a"], r["doc_b"]) for r in ld.lsh_candidate_pairs(docs).collect()}
    n_docs = docs.count()
    assert true_pairs, "fixture should contain engineered near-dup pairs"
    recall = len(true_pairs & cand) / len(true_pairs)
    assert recall >= 0.9, f"LSH recall too low: {recall:.2f}"
    # and it must actually prune: far fewer candidates than all pairs
    assert len(cand) < n_docs * (n_docs - 1) / 2 * 0.05


def test_portable_minhash_recall_and_precision(docs):
    """The portable (md5 + universal-hash) MinHash pipeline must
    behave like the xxhash64 one: verified pairs are a SUBSET of the
    true >=0.5 Jaccard pairs (precision 1.0 — verification is exact),
    recall tracks the 4x4 banding s-curve on the fixture's engineered
    near-dups, and candidate generation prunes (never all-pairs)."""
    true_pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ld.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ld.portable_minhash_pairs(docs).collect()
    }
    assert true_pairs
    assert set(got) <= set(true_pairs)  # exact verify => precision 1.0
    for pair, j in got.items():
        assert j == true_pairs[pair]  # identical exact Jaccard values
    # strong pairs (J >= 0.8: per-band collision 0.41, miss-all ~0.12)
    strong = {p for p, j in true_pairs.items() if j >= 0.8}
    if strong:
        recall = len(strong & set(got)) / len(strong)
        assert recall >= 0.5, f"portable MinHash strong-pair recall {recall:.2f}"


def _py_simhash(text: str) -> int:
    norm = " ".join(text.lower().split())
    sig = 0
    toks = norm.split(" ")
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
    for b in range(ld.SIMHASH_BITS):
        cnt = sum(1 for h in hs if (h >> b) & 1)
        if 2 * cnt > len(hs):
            sig |= 1 << b
    return sig


def test_simhash_matches_python(docs):
    rows = ld.simhash(docs).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    assert rows
    for r in rows:
        expect = _py_simhash(texts[r["doc_id"]])
        assert r["simhash"] == expect, f"doc {r['doc_id']}"
        assert r["simhash_bucket"] == expect >> (ld.SIMHASH_BITS - 12)


def test_normalize_unicode_parity(spark):
    """Pin the cross-engine unicode boundary of normalize(): accented
    Latin / Polish / ß / mixed whitespace must match DuckDB exactly
    (these flow into md5 fingerprints, so silent divergence would
    break every dedup oracle on non-ASCII corpora); dotted-capital İ
    is the one KNOWN divergence (Java yields i+U+0307, DuckDB plain i)
    and must stay confined to that character."""
    import duckdb

    from flink_engagement_pipeline_spark.llm.text import fingerprint_md5, normalize

    matching = ["Héllo  WÖRLD\tfoo\nbar", "ĄĆĘ łŃ", "naïve  café", "ÆØÅ  æøå"]
    diverging = "İstanbul"
    texts = matching + [diverging]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n"], r["m"])
        for r in df.select(
            "doc_id",
            normalize("text").alias("n"),
            fingerprint_md5("text").alias("m"),
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        norm, md5 = con.execute(
            "SELECT regexp_replace(trim(lower(?)), '\\s+', ' ', 'g'),"
            "       md5(regexp_replace(trim(lower(?)), '\\s+', ' ', 'g'))",
            [t, t],
        ).fetchone()
        if t is diverging:
            assert got[i][0] == "i̇stanbul" and norm == "istanbul"
        else:
            assert got[i] == (norm, md5), t


def test_jaccard_shingle_df_cap(spark):
    """Hot-shingle document-frequency cap: a boilerplate shingle shared
    by every doc is excluded from intersections (set sizes stay exact),
    so pairs whose overlap rests solely on boilerplate vanish while
    genuinely similar pairs survive with lower-bound Jaccard."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown a b c d e f g"),
            (2, "the quick brown a b c d e f h"),
            (3, "the quick brown p q r s"),
            (4, "the quick brown t u v w"),
        ],
        "doc_id long, text string",
    )
    # df("the quick brown") = 4; every other 3-gram has df <= 2.
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ld.ngram_jaccard_pairs(
            docs, threshold=0.1, max_shingle_df=None
        ).collect()
    }
    assert set(uncapped) == {(1, 2), (3, 4)}
    assert abs(uncapped[(1, 2)] - 7 / 9) < 1e-12
    assert abs(uncapped[(3, 4)] - 1 / 9) < 1e-12
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ld.ngram_jaccard_pairs(
            docs, threshold=0.1, max_shingle_df=3
        ).collect()
    }
    # (3,4) shared ONLY the boilerplate shingle -> dropped entirely;
    # (1,2) keeps its 6 non-boilerplate common grams, sizes stay 8/8.
    assert set(capped) == {(1, 2)}
    assert abs(capped[(1, 2)] - 6 / 10) < 1e-12
    # a cap above every df reproduces the exact baseline bit-for-bit
    high_cap = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ld.ngram_jaccard_pairs(
            docs, threshold=0.1, max_shingle_df=1000
        ).collect()
    }
    assert high_cap == uncapped


def test_jaccard_df_cap_window_reuses_shuffle(docs):
    """The df-cap window must not add an exchange: count-over-window on
    `sh` and the subsequent groupBy("sh") share one hash partitioning."""
    plan = (
        ld.ngram_jaccard_pairs(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    # one shuffle keyed by shingle, one by the pair group — no third;
    # set sizes ride the exploded rows, so there is no size-attach
    # join of any kind
    assert len(exchanges) == 2, exchanges
    assert "Join" not in plan


def test_dedup_e2e_refines_exact(docs):
    """The scale-path pipeline (LSH -> exact-verify -> CC) must produce
    a REFINEMENT of the all-pairs exact clustering: the exact verify
    step makes false merges impossible, so every e2e cluster sits
    inside one exact cluster; only LSH-missed pairs can split one —
    and on the engineered fixture the miss rate must stay low."""
    exact = {
        r["doc_id"]: r["cluster_id"] for r in ld.dedup_clusters(docs).collect()
    }
    e2e = {r["doc_id"]: r["cluster_id"] for r in ld.dedup_e2e(docs).collect()}
    assert set(e2e) == set(exact)  # every doc labeled
    # refinement: two docs in the same e2e cluster share an exact cluster
    from collections import defaultdict

    e2e_groups = defaultdict(list)
    for doc, c in e2e.items():
        e2e_groups[c].append(doc)
    for members in e2e_groups.values():
        assert len({exact[m] for m in members}) == 1, members
    # recall: the overwhelming share of truly-clustered docs stay merged
    exact_nonsingleton = {d for d, c in exact.items() if d != c or
                          sum(1 for x in exact.values() if x == c) > 1}
    still_merged = {
        d for d in exact_nonsingleton
        if sum(1 for x in e2e.values() if x == e2e[d]) > 1
    }
    if exact_nonsingleton:
        assert len(still_merged) / len(exact_nonsingleton) >= 0.9


def test_connected_components_nonconvergence_raises(spark):
    """A component whose diameter exceeds max_iter must raise — partial
    labels would silently split one true cluster into several
    'survivors' with no signal."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # driver_max_edges=0 forces the distributed loop — the
    # non-convergence contract is the LOOP's (the r15 small-graph
    # gate's union-find converges on any diameter and never raises)
    with pytest.raises(RuntimeError, match="did not converge"):
        ld.connected_components(pairs, ids, max_iter=1, driver_max_edges=0)
    # and with enough iterations the same chain converges to one cluster
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in ld.connected_components(
            pairs, ids, max_iter=10, driver_max_edges=0
        ).collect()
    }
    assert set(labels.values()) == {0}


def test_simhash_near_dups_close(docs):
    """Engineered near-dup pairs should be within small Hamming
    distance of each other."""
    pairs = ld.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    sigs = {r["doc_id"]: r["simhash"] for r in ld.simhash(docs).collect()}
    assert pairs
    for p in pairs:
        ham = bin(sigs[p["doc_a"]] ^ sigs[p["doc_b"]]).count("1")
        assert ham <= 16, f"near-dup pair {p} hamming {ham}"


def test_cosine_topk_vs_numpy(emb):
    np = pytest.importorskip("numpy")
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    q = vecs[0]
    cos = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items()
    }
    expect = [v for v, _ in sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:20]]
    got = [r["vec_id"] for r in ls.cosine_topk(emb).collect()]
    assert got == expect
    got_cos = {r["vec_id"]: r["cosine"] for r in ls.cosine_topk(emb).collect()}
    for vid in got:
        assert abs(got_cos[vid] - cos[vid]) < 1e-9


def test_ann_lsh_prunes_and_recalls(emb):
    brute = [r["vec_id"] for r in ls.cosine_topk(emb, k=10).collect()]
    approx = [r["vec_id"] for r in ls.ann_topk(emb, k=10).collect()]
    # query itself is always its own nearest neighbor
    assert approx[0] == 0
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.2, f"ANN recall {recall}"


def test_near_dup_planted_recall(spark, emb):
    """The fixture corpus is i.i.d. random (no true near-dups), so the
    registered query is verified here on planted clusters: duplicate a
    sample of corpus vectors with small noise and require the LSH +
    exact-verify pipeline to recover (almost) every planted pair with
    zero sub-threshold false positives."""
    np = pytest.importorskip("numpy")
    rng = np.random.default_rng(3)
    base = emb.select("vec_id", "embedding").limit(40).collect()
    rows, planted = [], set()
    for r in base:
        v = np.array(r["embedding"], dtype=np.float64)
        rows.append((int(r["vec_id"]), [float(x) for x in v]))
        dup_id = int(r["vec_id"]) + 1_000_000
        noisy = v + rng.standard_normal(v.shape) * 0.02 * np.linalg.norm(v) / np.sqrt(len(v))
        cos = float(v @ noisy / (np.linalg.norm(v) * np.linalg.norm(noisy)))
        if cos >= 0.95:  # only count confidently-planted pairs
            planted.add((int(r["vec_id"]), dup_id))
        rows.append((dup_id, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = ls.near_dup_pairs(df, threshold=0.9).collect()
    got_pairs = {(r["vec_a"], r["vec_b"]) for r in got}
    assert planted, "noise level should yield confidently-planted pairs"
    recall = len(planted & got_pairs) / len(planted)
    assert recall >= 0.9, f"planted near-dup recall {recall:.2f}"
    # exact verify => every returned pair really is >= threshold
    for r in got:
        assert r["cosine"] >= 0.9


def test_near_dup_empty_on_random_fixture(emb):
    """On the i.i.d. random fixture the exact oracle returns no pairs,
    and so must the LSH pipeline (precision side of the contract)."""
    assert ls.near_dup_pairs(emb, threshold=0.9).count() == 0


def test_ivf_prunes_and_recalls(emb):
    brute = [r["vec_id"] for r in ls.cosine_topk(emb, k=10).collect()]
    approx = [r["vec_id"] for r in ls.ivf_topk(emb, k=10).collect()]
    assert approx[0] == 0  # the query finds itself
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.2, f"IVF recall {recall}"
    # the probed candidate set must be a strict subset of the corpus
    from flink_engagement_pipeline_spark.llm.cluster import assign_clusters

    cents = ls._centroids(emb)
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = assign_clusters(e, cents)
    sizes = {r["cluster"]: r["n"] for r in assigned.groupBy("cluster").count().withColumnRenamed("count", "n").collect()}
    assert len(sizes) > 1, "all vectors fell into one list"


def test_media_decode_stub_raises(docs):
    media = lm.docs_as_media(docs.limit(5))
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        lm.decode_media(media, fake=False).collect()


def test_media_decode_fake_shape(docs):
    media = lm.docs_as_media(docs.limit(20))
    out = lm.decode_media(media, fake=True)
    rows = out.collect()
    assert len(rows) == 20
    assert set(out.columns) == {"doc_id", "width", "height", "n_frames", "feature_norm"}
    for r in rows:
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert 1 <= r["n_frames"] <= 32
        assert 0.0 <= r["feature_norm"] <= 1.0
    # deterministic: same input -> same features
    again = lm.decode_media(media, fake=True).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_approx_percentile_tolerance(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    approx = {
        r["event_type"]: r["p"]
        for r in events.groupBy("event_type")
        .agg(F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("p"))
        .collect()
    }
    # the sketch's guarantee is on RANK, not value: with accuracy
    # 10000 the returned value's rank is within n/10000 of the target.
    # Value-space tolerance would be wrong where the tail has big gaps
    # between adjacent order statistics.
    vals: dict = {}
    for r in events.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for etype, ps in approx.items():
        xs = sorted(vals[etype])
        n = len(xs)
        for target, a in zip([0.5, 0.95, 0.99], ps):
            import bisect

            lo = bisect.bisect_left(xs, a) / n
            hi = bisect.bisect_right(xs, a) / n
            assert lo - 0.02 <= target <= hi + 0.02, (etype, target, a, lo, hi)


def test_approx_distinct_tolerance(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) / n < 0.1


def test_hll_reach_tolerance(spark, sf_dir):
    """Sketch estimates must be within HLL error bounds of exact
    distinct counts, and the union must equal the global distinct."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.plans import REGISTRY
    from flink_engagement_pipeline_spark.sources.tables import load_table

    got = {
        r["event_type"]: r["est_users"]
        for r in REGISTRY["hll_user_reach"].spark(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    exact["__total__"] = ev.select("user_id").distinct().count()
    assert set(got) == set(exact)
    for k, n in exact.items():
        assert abs(got[k] - n) <= max(2, 0.05 * n), (k, got[k], n)


def test_dedup_clusters_match_union_find(spark, docs):
    """Connected components must agree with a pure-Python union-find
    over the exact Jaccard pairs (min-id canonical labels)."""
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in ld.ngram_jaccard_pairs(docs).select("doc_a", "doc_b").collect()
    ]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    all_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    expect = {i: find(i) for i in all_ids}
    # path-compress to true roots (min id per component)
    expect = {i: find(i) for i in all_ids}
    got = {
        r["doc_id"]: r["cluster_id"] for r in ld.dedup_clusters(docs).collect()
    }
    assert got == expect
    assert any(v != k for k, v in got.items()), "fixture has near-dup clusters"


def test_resize_media_gate_and_branches(docs):
    """resize stub: fake=False must raise (no Pillow); the fake keeps
    aspect ratio with integer scaling and runs both branches."""
    media = lm.docs_as_media(docs.limit(30))
    with pytest.raises(Exception, match="NotImplementedError|resize"):
        lm.resize_media(media, fake=False).collect()
    rows = lm.resize_media(media, max_side=128, fake=True).collect()
    assert len(rows) == 30
    shrunk = [r for r in rows if max(r["orig_w"], r["orig_h"]) > 128]
    passthrough = [r for r in rows if max(r["orig_w"], r["orig_h"]) <= 128]
    for r in shrunk:
        mx = max(r["orig_w"], r["orig_h"])
        assert r["new_w"] == r["orig_w"] * 128 // mx
        assert r["new_h"] == r["orig_h"] * 128 // mx
        assert max(r["new_w"], r["new_h"]) <= 128
    for r in passthrough:
        assert (r["new_w"], r["new_h"]) == (r["orig_w"], r["orig_h"])


def test_frame_sampling_fanout(docs):
    """1->N frame sampling: deterministic fan-out, every_k stride
    respected, per-frame digests stable across runs."""
    media = lm.docs_as_media(docs.limit(10))
    with pytest.raises(Exception, match="NotImplementedError|frame sampling"):
        lm.sample_frames(media, fake=False).collect()
    rows = lm.sample_frames(media, every_k=4, fake=True).collect()
    assert len(rows) >= 10  # at least one frame per doc
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    for idxs in by_doc.values():
        assert sorted(idxs) == list(range(0, max(idxs) + 1, 4))[: len(idxs)]
        assert all(i % 4 == 0 for i in idxs)
    again = lm.sample_frames(media, every_k=4, fake=True).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_simhash_pairs_recall_vs_jaccard(docs):
    """The SimHash pair path must recover most high-Jaccard pairs
    (sig agreement follows content overlap) while pruning hard."""
    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in ld.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    got = {(r["doc_a"], r["doc_b"]) for r in ld.simhash_near_pairs(docs).collect()}
    assert true_pairs
    recall = len(true_pairs & got) / len(true_pairs)
    assert recall >= 0.7, f"simhash pair recall {recall:.2f}"
    n = docs.count()
    assert len(got) < n * (n - 1) / 2 * 0.05  # it prunes


def test_lsh_oversized_bucket_collapses_to_chain(spark):
    """An exact-duplicate class LARGER than max_bucket_size must not
    lose its pairs (round-5 advisory: dropping saturated buckets shed
    exactly the largest duplicate classes — the advertised
    1B-document path kept every member of the biggest classes).
    Oversized buckets collapse to a min-doc_id star, preserving
    connected-component connectivity with O(bucket) pairs, while
    small classes keep the exact all-pairs expansion."""
    big = [(i, "the same exact duplicated text body repeated") for i in range(10)]
    small = [(100, "another tiny near class xyzzy"), (101, "another tiny near class xyzzy")]
    docs = spark.createDataFrame(big + small, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in ld.lsh_candidate_pairs(docs, max_bucket_size=3).collect()
    }
    # star: every big-class member reachable from doc 0 directly
    assert {(0, i) for i in range(1, 10)} <= pairs
    # no all-pairs blowup for the oversized class...
    assert not any(a != 0 and a < 10 and b < 10 for a, b in pairs), pairs
    # ...and the small class keeps its exact pair
    assert (100, 101) in pairs
    # uncapped path unchanged: full expansion for everything
    full = {
        (r["doc_a"], r["doc_b"])
        for r in ld.lsh_candidate_pairs(docs, max_bucket_size=None).collect()
    }
    assert {(a, b) for a in range(10) for b in range(a + 1, 10)} <= full


def test_lsh_chain_single_exchange(docs):
    """The salted chain device must not add a shuffle: the sub-group
    key is a superset of the window's hash partitioning, so window
    count/min, salting, and the group-by all ride ONE Exchange (plus
    the distinct's)."""
    plan = (
        ld.lsh_candidate_pairs(docs, max_bucket_size=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", plan)
    bucket_keyed = [e for e in exchanges if "band_idx" in e and "band_sig" in e]
    # ONE bucket-keyed exchange serves the window AND the salted
    # group-by (subset-partitioning satisfies the clustered
    # distribution); the only other exchange is distinct's pair-keyed one
    assert len(bucket_keyed) == 1, exchanges
    assert plan.count("Scan parquet") == 1, plan[:2000]


def test_incremental_simhash_matches_full_rebuild(docs):
    """SimHash ingest (new batch vs persisted bucket index, through the
    Hamming ingest screen) must find EXACTLY the pairs a full-corpus
    simhash_near_pairs run finds among pairs whose larger id is in the
    new batch — appending to the index is lossless vs rebuilding (the
    MinHash rebuild-equivalence device, applied to SimHash)."""
    split = 400
    corpus = docs.filter(F.col("doc_id") < split)
    batch = docs.filter(F.col("doc_id") >= split)
    idx = ld.simhash_buckets(corpus)
    got = {
        (r["doc_b"], r["doc_a"], r["hamming"])
        for r in ld.streaming_hamming_ingest_pairs(
            ld.simhash_buckets(batch), idx, "simhash", max_hamming=8
        ).collect()
    }
    full = {
        (r["doc_b"], r["doc_a"], r["hamming"])
        for r in ld.simhash_near_pairs(docs).collect()
        if r["doc_b"] >= split
    }
    assert got == full
    assert got, "fixture should contain simhash pairs touching the batch"


def test_incremental_neardup_matches_full_rebuild(emb):
    """Embedding near-dup ingest (new batch vs persisted hyperplane
    index, through the family's ingest screen) must find EXACTLY the
    pairs a full-corpus near_dup_pairs run finds among pairs whose
    larger id is in the new batch, at the fixture-sized threshold."""
    split = 400
    corpus = emb.filter(F.col("vec_id") < split)
    batch = emb.filter(F.col("vec_id") >= split)
    idx = ls.neardup_index(corpus)
    got = {
        (r["vec_b"], r["vec_a"], round(r["cosine"], 9))
        for r in ls.streaming_neardup_ingest_pairs(
            batch, idx, corpus, threshold=0.35
        ).collect()
    }
    full = {
        (r["vec_b"], r["vec_a"], round(r["cosine"], 9))
        for r in ls.near_dup_pairs(emb, threshold=0.35).collect()
        if r["vec_b"] >= split
    }
    assert got == full
    assert got, "fixture should contain near-dup pairs at 0.35"


def test_semi_prune_broadcast_gate(spark):
    """The verify-side semi-prune broadcast-hints small id sets and
    DROPS the hint above _BROADCAST_ID_LIMIT (ADVICE r7: an
    unconditional F.broadcast fails the job outright once the
    candidate id set outgrows the driver limit at corpus scale; the
    un-hinted form degrades to the planner's choice — runtime
    bloom-filter semi-join — instead)."""
    from flink_engagement_pipeline_spark.llm.dedup import (
        _BROADCAST_ID_LIMIT,
        _semi_prune,
    )

    tbl = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("payload")
    )
    ids = spark.range(10).select(F.col("id").alias("doc_id"))

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    small = _semi_prune(tbl, ids, n_ids=10)
    assert "hint" in optimized(small).lower()
    big = _semi_prune(tbl, ids, n_ids=_BROADCAST_ID_LIMIT + 1)
    assert "hint" not in optimized(big).lower()
    # n_ids=None counts the id frame itself (10 rows -> small path)
    counted = _semi_prune(tbl, ids)
    assert "hint" in optimized(counted).lower()
    assert counted.count() == 10
