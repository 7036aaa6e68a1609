"""SparkSession factory.

Deterministic, oracle-friendly defaults: UTC session timezone (DuckDB
timestamps are UTC-naive), ANSI off for Flink-style NULL-on-bad-cast
behavior parity, AQE on for runtime re-planning (skew joins, partition
coalescing) — the configs we'd run with on a real multi-executor
cluster, scaled down to local mode.

The reference pins parallelism to 1 (reference src/process.py:118); we
instead size shuffle partitions to the core count and let AQE coalesce —
the design that survives a 1000-executor scale-up.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


@contextmanager
def pinned_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf for the ``with`` body and restore the
    caller's value after, also when the body raises."""
    saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def get_spark(
    app_name: str = "flink_engagement_pipeline_spark",
    *,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with the engine's standard configs.

    On a real cluster you would drop ``master`` and submit with
    ``spark-submit``; everything else carries over unchanged.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # -- determinism / oracle comparability -------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # fixture events.ts is parquet TIMESTAMP(NANOS); read as long ns
        # (also set at read time in sources/tables.py for foreign sessions)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- scale posture (same knobs we'd set cluster-side) -----------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- Python boundary: Arrow everywhere --------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- streaming --------------------------------------------------
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        # -- quieter local runs -----------------------------------------
        .config("spark.ui.enabled", "false")
        # single-JVM local mode: driver heap IS executor memory for all
        # 32 task threads; 12M-group window aggs at sf0.1 need GC
        # headroom or cross-query full-GC debt distorts timings
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
