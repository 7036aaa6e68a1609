#!/usr/bin/env python
"""Split registered queries into build and exec, with jobs and task totals.

Usage:
    python tools/probe.py                # bench.py's headline + flagship sets
    python tools/probe.py <name> ...     # these queries, in this order

Reads ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) and runs on
``local[$SPARK_GRAFT_CPUS]``, the contract of ``bench.py``: a scaling run
is the same command at another fixture size or core count. The session
comes from ``perfbench/engine.start`` (bench.py's warm-up job) and ends
with ``engine.shutdown``, so no JVM outlives the probe.

Each query runs once and prints one JSON line:

- ``build_s`` / ``build_jobs``: ``spec.spark(spark, sf_dir)``, i.e. plan
  construction plus every driver action the builder runs;
- ``exec_s`` / ``exec_jobs``: a ``noop`` write of the returned frame;
- ``wall_s``: both phases, for checking that they add up;
- ``build`` / ``exec``: the phase's executor totals from the Spark event
  log (``perfbench/layers.exec_metrics``), selected by a job group the
  probe sets for that phase;
- ``jobs_outside_group``: jobs counted but not grouped. Job counts are
  job-id deltas around each phase, so they see every thread; a stream
  replay runs its micro-batches under the stream's own ``runId`` group,
  and those jobs show here instead of in the phase totals.

A query that memoizes state after its first run (the ``*_ingest`` and
``*_from_state`` convention) is timed cold; name it twice to see its
steady state, which is what bench.py's min-of-N reports.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# `python tools/probe.py` puts tools/ on sys.path; add the repo root
# (package, bench.py) and perfbench/ (its modules import each other
# as top-level names).
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import bench  # noqa: E402
import engine  # noqa: E402
from layers import exec_metrics  # noqa: E402

from flink_engagement_pipeline_spark import plans  # noqa: E402


def _phase(spark, group: str, fn):
    """Run ``fn`` under job group ``group``: (result, seconds, jobs)."""
    sc = spark.sparkContext
    scheduler = sc._jsc.sc().dagScheduler()
    sc.setJobGroup(group, group)
    try:
        jobs0 = scheduler.nextJobId()
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0, scheduler.nextJobId() - jobs0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def probe(spark, event_dir: str, sf_dir: str, i: int, spec) -> dict:
    cores = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    df, build_s, build_jobs = _phase(spark, f"probe-{i}-build", lambda: spec.spark(spark, sf_dir))
    _, exec_s, exec_jobs = _phase(
        spark, f"probe-{i}-exec", lambda: df.write.format("noop").mode("overwrite").save()
    )
    wall_s = time.perf_counter() - t0
    # the event log is written by a listener: let it catch up first
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    rec = {
        "query": spec.name,
        "wall_s": round(wall_s, 3),
        "build_s": round(build_s, 3),
        "build_jobs": build_jobs,
        "exec_s": round(exec_s, 3),
        "exec_jobs": exec_jobs,
        "jobs_outside_group": build_jobs + exec_jobs,
    }
    for phase, secs in (("build", build_s), ("exec", exec_s)):
        m = exec_metrics(event_dir, f"probe-{i}-{phase}", secs, cores)
        rec["jobs_outside_group"] -= m.pop("exec.jobs")
        rec[phase] = {k.split(".", 1)[1]: round(v, 3) for k, v in m.items()}
    return rec


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or (
        sorted(s.name for s in plans.REGISTRY.values() if s.bench) + bench.FLAGSHIP_NAMES
    )
    specs = [plans.REGISTRY[n] for n in names]
    event_dir = tempfile.mkdtemp(prefix="probe-eventlog-")
    spark = None
    try:
        spark = engine.start(
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        for i, spec in enumerate(specs):
            print(json.dumps(probe(spark, event_dir, sf_dir, i, spec)), flush=True)
            # as bench.py does: one query's garbage is not billed to the next
            spark._jvm.System.gc()
    finally:
        engine.shutdown(spark)
        shutil.rmtree(event_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
