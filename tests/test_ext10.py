"""Round-13 pins: the TENTH index-lifecycle family (PQ codes —
append==rebuild, delete==rebuild-without-X, serve re-point identity,
streaming maintenance with semantic compaction), the index-served
batched hybrid's plan contract (no corpus-sized dense scan), and BM25
PHYSICAL tombstone compaction (fold==rebuild state equality, state
shrinks, serve hashes unchanged)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from flink_engagement_pipeline_spark.llm import lexical as lx
from flink_engagement_pipeline_spark.llm import pq
from flink_engagement_pipeline_spark.plans import REGISTRY
from flink_engagement_pipeline_spark.plans import queries_ext10 as e10
from flink_engagement_pipeline_spark.sources.tables import load_table
from flink_engagement_pipeline_spark.streaming.sinks import (
    IdempotentParquetSink,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------------------
# PQ codes lifecycle algebra
# ---------------------------------------------------------------------------


def test_pq_ingest_append_equals_rebuild(spark, sf_dir):
    """Appending the batch's codes (encoded under the PINNED
    corpus-trained quantizers) to the committed corpus codes must
    equal rebuilding the whole table under the same quantizers —
    encoding is a pure function of the vector, so the equality is
    bit-for-bit at STATE level."""
    emb = load_table(spark, sf_dir, "embeddings")
    cut = int(
        emb.agg(F.expr("max(vec_id) * 4 div 5").alias("c")).first()["c"]
    )
    corpus = emb.filter(F.col("vec_id") < cut)
    books, coarse = e10._pq_quantizers(corpus)
    served = _rows(REGISTRY["embedding_pq_ingest"].spark(spark, sf_dir))
    rebuild = _rows(pq.encode_codes(emb, books, coarse))
    assert served == rebuild


def test_pq_ingest_reports_every_write_failure(spark, sf_dir, monkeypatch):
    """The corpus and batch code writes run as concurrent driver jobs:
    one failure is raised unchanged, and when both fail every failure
    is raised (as an ExceptionGroup), not only the first."""
    failing: set[int] = set()

    def write_batch(self, df, batch_id):
        if batch_id in failing:
            raise RuntimeError(f"write {batch_id} failed")

    monkeypatch.setattr(IdempotentParquetSink, "write_batch", write_batch)
    failing.add(1)
    with pytest.raises(RuntimeError, match="write 1 failed"):
        REGISTRY["embedding_pq_ingest"].spark(spark, sf_dir)
    failing.add(0)
    with pytest.raises(ExceptionGroup) as group:
        REGISTRY["embedding_pq_ingest"].spark(spark, sf_dir)
    assert sorted(str(e) for e in group.value.exceptions) == [
        "write 0 failed",
        "write 1 failed",
    ]


def test_pq_delete_equals_rebuild_without_x(spark, sf_dir):
    """Folding the op-signed tombstones must equal re-encoding the
    remaining vectors under the PINNED quantizers (never retrained at
    takedown): delete is the inverse delta of ingest."""
    emb = load_table(spark, sf_dir, "embeddings")
    books, coarse = e10._pq_quantizers(emb)
    served = _rows(REGISTRY["embedding_pq_delete"].spark(spark, sf_dir))
    rebuild = _rows(
        pq.encode_codes(
            emb.filter(F.col("vec_id") % e10._PQ_TAKEDOWN_MOD != 0),
            books,
            coarse,
        )
    )
    assert served == rebuild


def test_pq_serve_from_state_matches_build_artifact(spark, sf_dir):
    """embedding_ivf_pq's re-pointed serve (persisted op-signed sink
    state + probed-lists-only fold) must be result-identical to the
    process-memoized encoded_table path — the fold is the identity on
    a takedown-free corpus and codes are a pure function of the
    vector, so re-pointing keeps the hash unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    state = _rows(e10.ivf_pq_topk_from_state(spark, sf_dir, k=10))
    memo = _rows(pq.ivf_pq_topk(emb, k=10))
    assert state == memo


def test_pq_replay_compaction_and_rebuild(spark, sf_dir, tmp_path):
    """The streaming maintenance loop: parity batches commit op-signed
    code deltas; policy compaction (max_live_deltas=1) must actually
    fire mid-stream THROUGH the family's semantic transform, and the
    final folded state must equal the whole-corpus rebuild under the
    pinned quantizers (stream == batch, state-level)."""
    tmp = str(tmp_path)
    final = _rows(e10.run_pq_index_replay(spark, sf_dir, tmp))
    emb = load_table(spark, sf_dir, "embeddings")
    books, coarse = e10._pq_quantizers(emb)
    assert final == _rows(pq.encode_codes(emb, books, coarse))
    snaps = [
        d
        for d in os.listdir(os.path.join(tmp, "codes"))
        if d.startswith("compact=")
    ]
    assert snaps, "policy compaction never fired in the replay loop"
    # the semantic transform kept only live rows in the snapshot
    snap = spark.read.option("pathGlobFilter", "*.parquet").parquet(
        os.path.join(tmp, "codes", snaps[0])
    )
    assert snap.filter(F.col("op") <= 0).count() == 0


def test_pq_state_is_op_signed_sink_family(spark, sf_dir):
    """The tenth family's persisted state has the lifecycle schema:
    batchId-keyed exactly-once sink dirs holding (vec_id, cluster,
    c0..c7, op) — the op-signed LSM convention every cell folds."""
    state = IdempotentParquetSink(
        os.path.join(e10.pq_state_dir(spark, sf_dir), "codes")
    ).read_committed(spark)
    assert state.columns == (
        ["vec_id", "cluster"] + [f"c{s}" for s in range(pq.PQ_M)] + ["op"]
    )


# ---------------------------------------------------------------------------
# index-served batched hybrid: plan contract
# ---------------------------------------------------------------------------


def test_hybrid_batch_ivf_plan_is_index_served(spark, sf_dir):
    """The r12 weak finding's fix, pinned in the plan: the batched
    hybrid's dense stage reads the PERSISTED IVF codes pruned to the
    batch's probed clusters (literal isin reaching the codes scan),
    the lexical stage reads the persisted BM25 postings, and the
    document corpus is never rescanned. The brute-force twin's
    signature — a BroadcastNestedLoopJoin streaming the embeddings
    scan into a Q-cosine projection — must NOT appear on the dense
    side: every embeddings read passes through the candidate hash
    joins (vec_id / qid keys)."""
    plan = (
        REGISTRY["docs_hybrid_retrieval_batch_ivf"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"cluster#\d+ IN \(", plan), plan[:2000]
    assert "ivf_state_" in plan and "bm25_state_" in plan
    assert "documents.parquet" not in plan
    # dense candidates ride equi-joins, not a corpus-streaming BNLJ:
    # the only nested-loop join allowed is the lexical stage's
    # metadata-sized stats broadcast (1-row frames)
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        head = frag[:400]
        assert "embeddings.parquet" not in head, plan[:3000]


def test_hybrid_batch_ivf_dense_consistent_with_single(spark, sf_dir):
    """Per-qid dense ranks from the batch device must agree with the
    single-query state-served IVF serve for qid 0 (same probes, same
    candidates minus the excluded query vectors)."""
    from flink_engagement_pipeline_spark.plans.queries_ext8 import (
        _HYBRID_BATCH_TERMS,
        _HYBRID_TOPK,
    )
    from flink_engagement_pipeline_spark.plans.queries_ext9 import (
        ivf_topk_from_state,
    )

    nq = len(_HYBRID_BATCH_TERMS)
    batch = {
        (r["qid"], r["doc_id"]): r["r"]
        for r in e10.ivf_batch_topk_from_state(
            spark, sf_dir, num_queries=nq, k=_HYBRID_TOPK
        ).collect()
    }
    # single-query serve for vec 0, re-ranked after dropping the
    # query vectors the batch form excludes
    single = [
        r["vec_id"]
        for r in ivf_topk_from_state(
            spark, sf_dir, k=_HYBRID_TOPK + nq
        ).collect()
        if r["vec_id"] >= nq
    ][:_HYBRID_TOPK]
    got = [
        d for (q, d), r in sorted(batch.items(), key=lambda kv: kv[1])
        if q == 0
    ]
    assert got == single


# ---------------------------------------------------------------------------
# BM25 physical tombstone compaction
# ---------------------------------------------------------------------------


def test_bm25_physical_compaction_state_and_serve(spark, sf_dir, tmp_path):
    """The compaction cell's three contracts (r12 verdict ask #4):
    (1) the compacted postings base equals postings_of(remaining docs)
    BIT-FOR-BIT (fold == rebuild-without-X, now PHYSICAL); (2) state
    SHRINKS — stored rows drop from base+tombstones to the net base
    and no negated-tf row survives; (3) serve hashes unchanged — the
    served top-k over the compacted snapshot equals the tombstone-fold
    serve over the raw deltas."""
    from flink_engagement_pipeline_spark.plans.queries_ext9 import (
        _BM25_TAKEDOWN_MOD,
        _bm25_index_frames,
    )
    from flink_engagement_pipeline_spark.plans.queries_ml import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
        _BM25_TOPK,
    )

    mod = _BM25_TAKEDOWN_MOD
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    deleted = docs.filter(F.col("doc_id") % mod == 0)
    tmp = str(tmp_path)
    post_sink = IdempotentParquetSink(os.path.join(tmp, "postings"))
    stats_sink = IdempotentParquetSink(os.path.join(tmp, "stats"))
    post_sink.write_batch(lx.postings_of(docs), 0)
    stats_sink.write_batch(lx.stats_delta_of(docs), 0)
    post_sink.write_batch(
        lx.postings_of(deleted).withColumn("tf", -F.col("tf")), 1
    )
    stats_sink.write_batch(lx.stats_delta_of(deleted, sign=-1), 1)

    def serve():
        postings, stats = _bm25_index_frames(spark, tmp)
        return _rows(
            lx.bm25_serve(
                postings, stats, _BM25_TERMS,
                k=_BM25_TOPK, k1=_BM25_K1, b=_BM25_B,
            )
        )

    before_rows = post_sink.read_committed(spark).count()
    served_before = serve()

    post_sink.compact(spark, transform=lx.fold_postings)
    stats_sink.compact(spark, transform=lx.fold_stats)

    stored = post_sink.read_committed(spark)
    after_rows = stored.count()
    rebuild = lx.postings_of(docs.filter(F.col("doc_id") % mod != 0))
    # (1) physical fold == rebuild-without-X, bit-for-bit
    assert _rows(stored) == _rows(rebuild)
    # (2) state shrank and holds no tombstone residue
    assert after_rows < before_rows
    assert stored.filter(F.col("tf") <= 0).count() == 0
    assert stats_sink.read_committed(spark).count() == 1
    # (3) serve unchanged by compaction
    assert serve() == served_before


def test_platt_training_is_not_degenerate(spark, sf_dir):
    """The Newton-Platt trainer must produce a REAL classifier, not
    the majority-class predictor gradient descent collapses to on
    this data (measured — the reason the optimizer is Newton):
    positive calibration slope, both classes predicted, and accuracy
    strictly above the base rate."""
    from flink_engagement_pipeline_spark.llm import classify as cl
    from flink_engagement_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    feats = cl.platt_features(docs)
    a, b = cl.train_platt(feats)
    assert a > 0, (a, b)  # higher quality score => higher P(en)
    rows = cl.score_platt(feats, a, b).collect()
    n = len(rows)
    preds = [r["pred"] for r in rows]
    labels = [r["label"] for r in rows]
    assert 0 < sum(preds) < n  # both classes predicted
    acc = sum(p == y for p, y in zip(preds, labels)) / n
    base = max(sum(labels), n - sum(labels)) / n
    assert acc > base, (acc, base)
    # scoring is a pure projection: no joins, no exchange
    plan = (
        cl.score_platt(feats, a, b)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Join" not in plan, plan[:1500]


def test_bm25_compact_registered_query_reads_snapshot(spark, sf_dir):
    """docs_bm25_compact must serve from the compact= snapshot (the
    folded base), not from live delta dirs — the read-path the
    LSM compaction exists to produce."""
    df = REGISTRY["docs_bm25_compact"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "compact=" in plan, plan[:2000]
    assert "batch_id=" not in plan, plan[:2000]
