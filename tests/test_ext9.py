"""Round-12 pins: manifest takedown/streaming lifecycle cells, the
persisted-state multimodal composition, and the BM25 index family."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from flink_engagement_pipeline_spark.llm import lexical as lx
from flink_engagement_pipeline_spark.llm import multimodal as lm
from flink_engagement_pipeline_spark.plans import REGISTRY
from flink_engagement_pipeline_spark.plans import queries_ext9 as e9
from flink_engagement_pipeline_spark.sources.tables import load_table

SF01 = "/root/testdata/sf0.1"


# ---------------------------------------------------------------------------
# manifest takedown
# ---------------------------------------------------------------------------


def test_manifest_delete_position_contract(spark, sf_dir):
    """The takedown contract, against both poles: (a) TOMBSTONES —
    every kept row keeps its exact pre-takedown sample_idx (a rebuild
    would renumber; the gaps are the point, they preserve the
    resume-mid-epoch property), positions never reused; (b) the LIVE
    DOC SET equals rebuild-without-X exactly (untouched fps keep their
    survivor, touched fps resurrect their lowest remaining duplicate
    not itself taken down)."""
    mod = e9._MANIFEST_TAKEDOWN_MOD
    base = {
        r["doc_id"]: (r["split"], r["sample_idx"])
        for r in REGISTRY["docs_training_manifest"].spark(spark, sf_dir).collect()
    }
    out = REGISTRY["docs_manifest_delete"].spark(spark, sf_dir).collect()
    kept = [r for r in out if not r["is_appended"]]
    appended = [r for r in out if r["is_appended"]]
    # (a) tombstone stability: kept positions == served positions
    assert kept and all(
        base[r["doc_id"]] == (r["split"], r["sample_idx"]) for r in kept
    )
    assert all(r["doc_id"] % mod != 0 for r in kept)
    # appended positions start strictly after each split's served count
    served = {}
    for s, i in base.values():
        served[s] = max(served.get(s, 0), i)
    for r in appended:
        assert r["sample_idx"] > served.get(r["split"], 0)
    # (b) live set == rebuild-without-X: rebuild the manifest on the
    # reduced corpus through the same registered rebuild query
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet') WHERE doc_id % {mod} <> 0"
    )
    rebuild = con.execute(
        REGISTRY["docs_training_manifest"].oracle
    ).fetch_df()
    assert sorted(r["doc_id"] for r in out) == sorted(rebuild["doc_id"])
    # and tombstones are NOT a renumber: with a 1-in-3 takedown some
    # kept position must differ from the rebuild's contiguous indices
    reb = dict(zip(rebuild["doc_id"], rebuild["sample_idx"]))
    assert any(reb[r["doc_id"]] != r["sample_idx"] for r in kept)


def test_manifest_delete_resurrection_non_vacuous_sf01(spark):
    """At sf0.1 (the only fixture with exact-duplicate groups —
    measured round 12: the smaller fixtures have none) the modulus-3
    takedown removes survivors whose duplicates pass the filters, so
    the resurrection branch must actually fire and every appended row
    must carry a touched fingerprint's content."""
    out = REGISTRY["docs_manifest_delete"].spark(spark, SF01)
    appended = out.filter(F.col("is_appended")).collect()
    assert len(appended) >= 1
    mod = e9._MANIFEST_TAKEDOWN_MOD
    assert all(r["doc_id"] % mod != 0 for r in appended)


# ---------------------------------------------------------------------------
# streaming manifest maintenance
# ---------------------------------------------------------------------------


def test_manifest_replay_served_positions_stable(spark, sf_dir, tmp_path):
    """Served-position stability through the STREAM path: batch 0's
    committed rows must be byte-identical in the final state (appends
    never shift earlier positions — the resume-mid-epoch contract the
    ingest established, now replayed), and batch 1 must start after
    batch 0's per-split counts."""
    from flink_engagement_pipeline_spark.streaming.sinks import (
        IdempotentParquetSink,
    )

    tmp = str(tmp_path)
    final = {
        (r["doc_id"]): (r["split"], r["sample_idx"])
        for r in e9.run_manifest_replay(spark, sf_dir, tmp).collect()
    }
    sink = IdempotentParquetSink(os.path.join(tmp, "manifest"))
    b0 = spark.read.parquet(*sink.committed_paths(below=1)).collect()
    assert b0
    for r in b0:
        assert final[r["doc_id"]] == (r["split"], r["sample_idx"])
    counts0 = {}
    for r in b0:
        counts0[r["split"]] = counts0.get(r["split"], 0) + 1
    later = [
        (doc, s, i) for doc, (s, i) in final.items()
        if doc not in {r["doc_id"] for r in b0}
    ]
    assert later  # batch 1 contributed rows
    for _, s, i in later:
        assert i > counts0.get(s, 0)


# ---------------------------------------------------------------------------
# persisted-state multimodal composition
# ---------------------------------------------------------------------------


def test_manifest_from_state_serves_without_recompute(
    spark, sf_dir, monkeypatch
):
    """The production claim of corpus_manifest_from_state: once the
    media/video families' state is materialized, SERVING the manifest
    never re-runs the dedup machinery (the inline form re-derives
    ~12 s of media_video_neardup per call). Poison both builders after
    the state exists — the serve path must not touch them."""
    from flink_engagement_pipeline_spark.plans import queries_ext7 as e7

    e9.media_state_dir(spark, sf_dir)  # materialize (memoized)

    def boom(*a, **k):  # pragma: no cover - must not run
        raise AssertionError("dedup recompute on the serve path")

    monkeypatch.setattr(lm, "media_video_neardup", boom)
    monkeypatch.setattr(e7, "media_survivors_frame", boom)
    out = REGISTRY["corpus_manifest_from_state"].spark(spark, sf_dir)
    assert out.count() > 0


def test_manifest_from_state_matches_inline(spark, sf_dir):
    """State-served and inline compositions are the same manifest."""
    inline = sorted(
        map(
            tuple,
            REGISTRY["corpus_manifest_multimodal"].spark(spark, sf_dir).collect(),
        )
    )
    served = sorted(
        map(
            tuple,
            REGISTRY["corpus_manifest_from_state"].spark(spark, sf_dir).collect(),
        )
    )
    assert inline == served


# ---------------------------------------------------------------------------
# BM25 index family
# ---------------------------------------------------------------------------


def test_bm25_ingest_state_rebuild_equivalence(spark, sf_dir):
    """Append == rebuild at the STATE level, not just top-k equality:
    the committed union of (corpus postings + batch postings) must
    equal postings_of(all docs) as a set, and the summed stats deltas
    must equal the full-corpus stats — the associativity that makes
    every cell of this family exact."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cut = int(
        docs.agg(F.expr("max(doc_id) * 4 div 5").alias("c")).first()["c"]
    )
    parts = [
        lx.postings_of(docs.filter(F.col("doc_id") < cut)),
        lx.postings_of(docs.filter(F.col("doc_id") >= cut)),
    ]
    merged = sorted(map(tuple, parts[0].unionByName(parts[1]).collect()))
    rebuild = sorted(map(tuple, lx.postings_of(docs).collect()))
    assert merged == rebuild
    deltas = (
        lx.stats_delta_of(docs.filter(F.col("doc_id") < cut))
        .unionByName(lx.stats_delta_of(docs.filter(F.col("doc_id") >= cut)))
        .agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s"))
        .first()
    )
    full = lx.stats_delta_of(docs).first()
    assert (deltas["n"], deltas["s"]) == (full["n_docs"], full["sum_dl"])


def test_bm25_delete_tombstone_fold(spark, sf_dir):
    """Folding the committed postings with their tombstones (sum tf
    per (term, doc_id), keep positive) must equal the
    rebuild-without-X postings set — the LSM takedown is exact."""
    mod = e9._BM25_TAKEDOWN_MOD
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    deleted = docs.filter(F.col("doc_id") % mod == 0)
    committed = lx.postings_of(docs).unionByName(
        lx.postings_of(deleted).withColumn("tf", -F.col("tf"))
    )
    folded = sorted(
        map(
            tuple,
            committed.groupBy("term", "doc_id")
            .agg(F.sum("tf").alias("tf"), F.max("dl").alias("dl"))
            .filter(F.col("tf") > 0)
            .collect(),
        )
    )
    rebuild = sorted(
        map(
            tuple,
            lx.postings_of(
                docs.filter(F.col("doc_id") % mod != 0)
            ).collect(),
        )
    )
    assert folded == rebuild


def test_bm25_serve_rejects_duplicate_terms(spark, sf_dir):
    """A repeated query term would mint duplicate tf{i}/df{i} columns
    and double-count that term's score contribution relative to the
    SQL twin — bm25_serve must refuse loudly (r12 ADVICE)."""
    import pytest

    tmp = e9.bm25_state_dir(spark, sf_dir)
    postings, stats = e9._bm25_index_frames(spark, tmp)
    with pytest.raises(ValueError, match="distinct"):
        lx.bm25_serve(postings, stats, ("spark", "query", "spark"))


def test_bm25_serve_plan_prunes_and_never_rescans_corpus(spark, sf_dir):
    """The index-serve contract in the plan: the query terms prune the
    persisted postings scan (literal isin reaching the scan's data
    filters), and the document corpus is NEVER rescanned — neither by
    docs_bm25_from_index nor by the re-pointed hybrid lexical stage."""
    plan = (
        REGISTRY["docs_bm25_from_index"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"term#\d+ IN \(spark,query,stream,join\)", plan), (
        plan[:2000]
    )
    assert "bm25_state_" in plan
    assert "documents.parquet" not in plan
    for hybrid in ("docs_hybrid_retrieval", "docs_hybrid_retrieval_batch"):
        hplan = (
            REGISTRY[hybrid]
            .spark(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "documents.parquet" not in hplan, hybrid
        assert "bm25_state_" in hplan, hybrid


def test_hybrid_ivf_index_served_plan_and_equivalence(spark, sf_dir):
    """The fully index-served hybrid's contract: the dense stage reads
    the PERSISTED codes pruned to the probed clusters (literal isin on
    the codes scan) and is result-identical to the in-plan ivf_topk
    (assignment is deterministic, codes == assignment); the whole
    hybrid plan touches neither documents.parquet nor a corpus-wide
    re-assignment — both stages serve from state."""
    from flink_engagement_pipeline_spark.llm import similarity as ls

    emb = load_table(spark, sf_dir, "embeddings")
    served = sorted(
        map(tuple, e9.ivf_topk_from_state(spark, sf_dir, k=20).collect())
    )
    inplan = sorted(map(tuple, ls.ivf_topk(emb, k=20).collect()))
    assert served == inplan
    plan = (
        REGISTRY["docs_hybrid_retrieval_ivf"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"cluster#\d+ IN \(", plan), plan[:2000]
    assert "ivf_state_" in plan and "bm25_state_" in plan
    assert "documents.parquet" not in plan


def test_bm25_from_index_equals_full_scan(spark, sf_dir):
    """On the fixtures (>= 493 of 500 docs match a query term — far
    above the 20-row cut) the index-served top-k must equal the
    full-scan docs_bm25 exactly: the documented precondition under
    which re-pointing hybrid retrieval keeps hashes unchanged."""
    full = sorted(
        map(tuple, REGISTRY["docs_bm25"].spark(spark, sf_dir).collect())
    )
    idx = sorted(
        map(
            tuple,
            REGISTRY["docs_bm25_from_index"].spark(spark, sf_dir).collect(),
        )
    )
    assert full == idx
