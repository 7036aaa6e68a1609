"""Engine lifecycle and JVM probes for the benchmark.

The first ``start`` in a process launches the JVM, the way a user's
process does; later starts build a new session (a new SparkContext) in
that JVM. ``shutdown`` ends the JVM and waits until it has exited, so no
process outlives the benchmark.
"""

from __future__ import annotations

import resource
import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession

from flink_engagement_pipeline_spark.session import get_spark


def start(cores: int | None = None, extra_conf: dict[str, str] | None = None) -> SparkSession:
    spark = get_spark("perfbench", cores=cores, extra_conf=extra_conf)
    # the warm-up job bench.py runs before timing anything
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    return spark


def shutdown(spark: SparkSession | None) -> None:
    """Stop the session and its JVM; wait until the JVM has exited."""
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_hwm_mb() -> float:
    """Peak resident memory (VmHWM) of the running engine JVM, in MB."""
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def python_hwm_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class JvmMemory:
    """GC time and peak heap of the engine JVM over an interval (JMX)."""

    def __init__(self, spark: SparkSession):
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._heap_pools = [
            p for p in self._mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"
        ]

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())

    def __enter__(self) -> JvmMemory:
        for p in self._heap_pools:
            p.resetPeakUsage()
        self._gc0 = self._gc_ms()
        return self

    def __exit__(self, *exc) -> None:
        self.gc_ms = self._gc_ms() - self._gc0
        self.heap_peak_mb = sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / 2**20


def versions(spark: SparkSession) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "jvm_heap_max_mb": round(jvm.Runtime.getRuntime().maxMemory() / 2**20),
        "master": spark.sparkContext.master,
    }
