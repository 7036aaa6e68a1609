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


def default_driver_memory() -> str:
    """Driver heap for ``get_spark``: ``$SPARK_GRAFT_DRIVER_MEM``, else
    half of the host's physical memory. In local mode the driver heap
    is also all executor memory; the other half leaves room for the
    JVM's off-heap memory, the Python workers and the page cache."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{host // 2 // 2**20}m"


@contextmanager
def pinned_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf for the ``with`` body and restore the
    caller's value after, also when the body raises. A key the caller
    had not set is unset again."""
    saved = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
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
        # task threads, sized from the host (default_driver_memory)
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
