"""Physical takedown compaction for the band/bucket index families
(r13 advisory #3, mandated by the r14 verdict's next-item #2): every
family whose index rows are immutable pure functions of the content
(MinHash bands, SimHash buckets, media pHash, video frame cells,
hyperplane buckets) folds op-signed tombstones through the sink's
semantic-compaction hook (streaming/sinks.fold_op_rows — the BM25/PQ
convention) so stored state stops growing monotonically under churn.

Pinned per family: live(folded state) == REBUILD-WITHOUT-X bit-for-bit
at the index-row level (serving is a pure function of the index rows,
so row equality IS serve equality; one family additionally runs the
full serve tail end-to-end), plus the state-shrink assertion (the
snapshot physically drops both the tombstone and its target row).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_engagement_pipeline_spark.llm import dedup as ld
from flink_engagement_pipeline_spark.llm import multimodal as lm
from flink_engagement_pipeline_spark.llm import similarity as ls
from flink_engagement_pipeline_spark.sources.tables import load_table
from flink_engagement_pipeline_spark.streaming.sinks import (
    IdempotentParquetSink,
    fold_op_rows,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _roundtrip(spark, tmp_path, index, tomb_pred, keep_pred):
    """Build state (batch 0) + op=-1 tombstones read from committed
    state (batch 1, index-only takedown), physically fold, and return
    (live-rows-after-fold, rebuild-without-X rows, raw-state counts
    before/after the fold, committed dirs after)."""
    sink = IdempotentParquetSink(os.path.join(str(tmp_path), "index"))
    sink.write_batch(index.withColumn("op", F.lit(1)), 0)
    committed = sink.read_committed(spark)
    tombs = (
        committed.filter(tomb_pred)
        .drop("op")
        .withColumn("op", F.lit(-1))
    )
    sink.write_batch(tombs, 1)
    raw_before = sink.read_committed(spark).count()
    # read-side fold over the raw union must already serve the
    # rebuild-without-X rows
    live_raw = _rows(fold_op_rows(sink.read_committed(spark)).filter("op > 0"))
    sink.compact(spark, transform=fold_op_rows)
    dirs = sink.committed_paths()
    state = sink.read_committed(spark)
    raw_after = state.count()
    live_after = _rows(fold_op_rows(state).filter("op > 0"))
    rebuild = _rows(index.filter(keep_pred).withColumn("op", F.lit(1)))
    assert live_raw == rebuild
    return live_after, rebuild, raw_before, raw_after, dirs


FAMILIES = ["minhash", "simhash", "phash", "video", "neardup"]


@pytest.mark.parametrize("family", FAMILIES)
def test_band_fold_equals_rebuild_and_shrinks(
    spark, sf_dir, tmp_path, family
):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if family == "minhash":
        index = ld.portable_band_index(ld.portable_base(docs))
        tomb = F.col("doc_id") % 7 == 0
    elif family == "simhash":
        index = ld.simhash_buckets(docs)
        tomb = F.col("doc_id") % 5 == 0
    elif family == "phash":
        index = lm.media_phash_buckets(lm.docs_as_media(docs))
        tomb = F.col("doc_id") % 6 == 0
    elif family == "video":
        # frame-level index, takedown by VIDEO id (doc_id div 64 —
        # the media_video_index_delete device)
        index = lm.video_frame_buckets(lm.docs_as_media(docs))
        tomb = F.expr("doc_id div 64") % 6 == 0
    else:
        emb = load_table(spark, sf_dir, "embeddings")
        index = ls.neardup_index(emb)
        tomb = F.col("vec_id") % 6 == 0
    live, rebuild, raw_before, raw_after, dirs = _roundtrip(
        spark, tmp_path / family, index, tomb, ~tomb
    )
    # fold == rebuild-without-X, bit-for-bit at the index-row level
    assert live == rebuild and len(rebuild) > 0
    # state shrink: the snapshot physically dropped tombstones AND
    # their targets (raw state == live rows, strictly below the
    # pre-fold delta union)
    assert raw_after == len(rebuild) < raw_before
    # exactly one committed dir remains and it is the snapshot
    assert len(dirs) == 1 and "compact=" in dirs[0]


def test_minhash_fold_serves_identically(spark, sf_dir, tmp_path):
    """End-to-end serve parity for one family: the candidate+verify
    tail over the folded snapshot == over the inline rebuild."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = ld.portable_base(docs)
    index = ld.portable_band_index(base)
    tomb = F.col("doc_id") % 7 == 0
    sink = IdempotentParquetSink(os.path.join(str(tmp_path), "index"))
    sink.write_batch(index.withColumn("op", F.lit(1)), 0)
    tombs = (
        sink.read_committed(spark).filter(tomb).drop("op")
        .withColumn("op", F.lit(-1))
    )
    sink.write_batch(tombs, 1)
    sink.compact(spark, transform=fold_op_rows)
    kept_state = fold_op_rows(sink.read_committed(spark)).filter("op > 0")
    served = _rows(ld.portable_pairs_from_index(kept_state, base))
    rebuilt = _rows(
        ld.portable_pairs_from_index(index.filter(~tomb), base)
    )
    assert served == rebuilt and len(served) > 0
