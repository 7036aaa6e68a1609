#!/usr/bin/env python
"""Churn probe for the band-index physical compaction (r15, the r14
verdict's next-item #2): drive a SimHash bucket index through K
ingest + takedown cycles via the exactly-once sink, with
policy-triggered compaction folding op-signed tombstones
(maybe_compact(upto=bid, transform=fold_op_rows)) vs the plain union
fold (no transform). Records stored rows + bytes per cycle: with the
semantic fold the state tracks the LIVE set; without it, state grows
monotonically with churn."""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from flink_engagement_pipeline_spark.llm import dedup as ld  # noqa: E402
from flink_engagement_pipeline_spark.session import get_spark  # noqa: E402
from flink_engagement_pipeline_spark.sources.tables import load_table  # noqa: E402
from flink_engagement_pipeline_spark.streaming.sinks import (  # noqa: E402
    IdempotentParquetSink,
    fold_op_rows,
)


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    cycles = int(os.environ.get("CHURN_CYCLES", "8"))
    spark = get_spark("band-churn-probe")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index = ld.simhash_buckets(docs).localCheckpoint()  # hash once

    results = {}
    for mode, transform in (("fold", fold_op_rows), ("plain", None)):
        tmp = tempfile.mkdtemp(prefix=f"churn_{mode}_")
        sink = IdempotentParquetSink(os.path.join(tmp, "index"))
        rows_per = []
        bid = 0
        for cyc in range(cycles):
            # ingest slice cyc, takedown slice cyc-1 (full churn: every
            # batch is later deleted, live set stays one slice)
            ing = index.filter(F.col("doc_id") % cycles == cyc)
            sink.maybe_compact(
                spark, upto=bid, max_live_deltas=2, transform=transform
            )
            sink.write_batch(ing.withColumn("op", F.lit(1)), bid)
            bid += 1
            if cyc > 0:
                tomb = index.filter(
                    F.col("doc_id") % cycles == cyc - 1
                ).withColumn("op", F.lit(-1))
                sink.maybe_compact(
                    spark, upto=bid, max_live_deltas=2, transform=transform
                )
                sink.write_batch(tomb, bid)
                bid += 1
            rows_per.append(
                (sink.read_committed(spark).count(), du(tmp))
            )
        live = fold_op_rows(sink.read_committed(spark)).filter("op > 0").count()
        results[mode] = (rows_per, live)
        print(f"mode={mode}: live rows at end = {live}")
        for i, (r, b) in enumerate(rows_per):
            print(f"  cycle {i}: stored rows {r:7d}  bytes {b:9d}")

    f_rows = [r for r, _ in results["fold"][0]]
    p_rows = [r for r, _ in results["plain"][0]]
    print(f"\nfold stored-rows trajectory:  {f_rows}")
    print(f"plain stored-rows trajectory: {p_rows}")
    assert results["fold"][1] == results["plain"][1], "live sets differ!"
    print("live sets identical under both modes:", results["fold"][1])


if __name__ == "__main__":
    main()
