"""The traced run: per-layer metrics, measured from outside the program.

Layers are the package's modules, seen at the boundaries the benchmark
can reach without touching the program:

- ``session``: ``get_spark`` + warm-up job in a running JVM, and the
  first set-up of the process, which also launches the JVM;
- ``plans`` / ``catalyst``: the per-micro-batch plan the stream runs,
  built by the program's public functions on a static read of one input
  file (``latest_per_key`` + ``enrich_events``, or ``windowed_stream``),
  then ``queryExecution().tracker()`` phases after forcing the physical
  plan;
- ``exec``: per-task metrics of the traced drain's jobs from the Spark
  event log (``get_spark(extra_conf=...)``), selected by the job group
  Structured Streaming gives every job of a run (its ``runId``);
- ``streaming`` / ``state``: ``StreamingQueryListener`` progress, one
  event per micro-batch (phase ``durationMs``, state-operator metrics);
- ``sinks``: the delegating ``StampedSink`` spans around ``write_batch``;
- ``jvm``: GC time and peak heap over the traced drain (JMX).

Attribution (``attr.*``): a traced drain's wall time splits into the
streaming engine's own time (query start plus each trigger minus its
``addBatch``), the foreachBatch body outside the sinks (plan build,
persist, unpersist), the sink writes, and the tail after the last
trigger. What is left is ``unattributed_ms``. Tracing overhead is the
traced drain's wall time minus an untraced drain's in the same run.
A ``local[1]`` drain of the same backlog is the single-thread baseline.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

import engine
from flink_engagement_pipeline_spark.schemas import EVENTS
from flink_engagement_pipeline_spark.sources.tables import load_table

PROBE_FILES = 8  # input files the plan / Catalyst probe builds on
PHASES = {
    "latestOffset": "latest_offset_ms",
    "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}
PROBE_GROUP = {"build": "perfbench-plans-build", "catalyst": "perfbench-catalyst"}


class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch's progress, as plain values."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append(
            {
                "run_id": str(p.runId),
                "start": datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
                .replace(tzinfo=timezone.utc)
                .timestamp(),
                "dur": dict(p.durationMs),
                "rows": p.numInputRows,
                "state": [
                    (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs, s.numRowsDroppedByWatermark)
                    for s in p.stateOperators
                ],
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _wait_for_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def streaming_metrics(batches: list[dict]) -> dict:
    out = {f"streaming.{name}": _med(b["dur"].get(k, 0) for b in batches) for k, name in PHASES.items()}
    out["streaming.batches"] = len(batches)
    out["streaming.input_rows"] = sum(b["rows"] for b in batches)
    out["state.rows_total"] = max((sum(s[0] for s in b["state"]) for b in batches), default=0)
    out["state.mem_bytes"] = max((sum(s[1] for s in b["state"]) for b in batches), default=0)
    out["state.commit_ms"] = _med(sum(s[2] for s in b["state"]) for b in batches)
    out["state.rows_dropped_by_watermark"] = sum(s[3] for b in batches for s in b["state"])
    return out


def attribution(drain, batches: list[dict]) -> dict:
    """Split a traced drain's wall time into layer self times (ms)."""
    wall_ms = drain.wall_s * 1e3
    trig = sum(b["dur"].get("triggerExecution", 0) for b in batches)
    add = sum(b["dur"].get("addBatch", 0) for b in batches)
    sinks = sum(s.busy_ms() for s in drain.sinks.values())
    start = (batches[0]["start"] - drain.started) * 1e3
    last = batches[-1]
    tail = (drain.started + drain.wall_s - last["start"]) * 1e3 - last["dur"].get(
        "triggerExecution", 0
    )
    parts = {
        "attr.streaming_ms": start + trig - add,
        "attr.batch_body_ms": add - sinks,
        "attr.sinks_ms": sinks,
        "attr.tail_ms": tail,
    }
    parts["unattributed_ms"] = wall_ms - sum(parts.values())
    parts["streaming.start_ms"] = start
    return parts


def _event_lines(event_dir: str):
    """Lines of the one application's event log (rolling turned off)."""
    (path,) = glob.glob(os.path.join(event_dir, "*"))
    with open(path) as fh:
        yield from fh


def exec_metrics(event_dir: str, group: str, wall_s: float, cores: int) -> dict:
    """Task metrics of the jobs in `group`, from the Spark event log."""
    stage_job: dict[int, int] = {}
    jobs = stages = tasks = 0
    run = cpu_ns = gc = inp = sh_r = sh_w = spill = peak = 0
    for line in _event_lines(event_dir):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerStageCompleted":
            stages += ev["Stage Info"]["Stage ID"] in stage_job
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
            m = ev.get("Task Metrics") or {}
            tasks += 1
            run += m.get("Executor Run Time", 0)
            cpu_ns += m.get("Executor CPU Time", 0)
            gc += m.get("JVM GC Time", 0)
            inp += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            r = m.get("Shuffle Read Metrics") or {}
            sh_r += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            sh_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Disk Bytes Spilled", 0)
            peak = max(peak, m.get("Peak Execution Memory", 0))
    return {
        "exec.jobs": jobs,
        "exec.stages": stages,
        "exec.tasks": tasks,
        "exec.task_run_ms": run,
        "exec.task_cpu_ms": cpu_ns / 1e6,
        "exec.gc_ms": gc,
        "exec.input_bytes": inp,
        "exec.shuffle_read_bytes": sh_r,
        "exec.shuffle_write_bytes": sh_w,
        "exec.spill_bytes": spill,
        "exec.peak_exec_mem_bytes": peak,
        "exec.parallel_eff": run / (wall_s * 1e3 * cores),
    }


def _phase_ms(tracker, name: str) -> float:
    opt = tracker.phases().get(name)
    return float(opt.get().durationMs()) if opt.isDefined() else 0.0


def plan_probe(spark, workload, backlog) -> dict:
    """Median plan-build and Catalyst phase times of the per-batch plan,
    built on one input file at a time."""
    sc = spark.sparkContext
    dim = load_table(spark, backlog.dim_dir, "customer")
    build, phases = [], {"analysis": [], "optimization": [], "planning": []}
    for path in backlog.files[:PROBE_FILES]:
        batch = spark.read.schema(EVENTS).parquet(path)
        sc.setJobGroup(PROBE_GROUP["build"], "plan build probe")
        t0 = time.perf_counter()
        df = workload.batch_plan(batch, dim)
        build.append((time.perf_counter() - t0) * 1e3)
        sc.setJobGroup(PROBE_GROUP["catalyst"], "catalyst probe")
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        for name, values in phases.items():
            values.append(_phase_ms(qe.tracker(), name))
    sc.setLocalProperty("spark.jobGroup.id", None)
    out = {"plans.build_ms": _med(build)}
    out.update({f"catalyst.{k}_ms": _med(v) for k, v in phases.items()})
    return out


def _build_jobs(event_dir: str) -> float:
    return exec_metrics(event_dir, PROBE_GROUP["build"], 1.0, 1)["exec.jobs"] / PROBE_FILES


def per_layer(bench):
    """The --trace 1 run. Returns (attempted, failed, metrics, versions)."""
    wl, args = bench.workload, bench.args
    backlog, _, session_s, first_setup_s = bench.setups()
    cores = bench.spark.sparkContext.defaultParallelism
    share = args.seconds / 3

    # untraced, traced, untraced again: the JVM keeps speeding up for a
    # while, so the overhead compares the traced pass with the mean of
    # the untraced passes on either side of it
    untraced = bench.drains(backlog, 0, "untraced", at_least=1)
    event_dir = bench.fresh_dir("eventlog")
    bench.restart(
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    )
    log = ProgressLog()
    bench.spark.streams.addListener(log)
    traced, per_drain = [], []
    t0 = time.perf_counter()
    while not traced or time.perf_counter() - t0 < share * len(traced) / (len(traced) + 1):
        seen = len(log.batches)
        with engine.JvmMemory(bench.spark) as jvm:
            traced.append(wl.drain(bench.spark, backlog, bench.fresh_dir("traced")))
        _wait_for_listeners(bench.spark)
        per_drain.append((log.batches[seen:], jvm))
    probe = plan_probe(bench.spark, wl, backlog)
    peak_rss_mb = engine.jvm_hwm_mb() + engine.python_hwm_mb()
    versions = engine.versions(bench.spark)

    # compiled code is JVM-wide, so new sessions need no warm-up drain
    bench.restart()
    untraced += bench.drains(backlog, 0, "untraced", at_least=1)
    bench.restart(cores=1)
    local1 = bench.drains(backlog, 0, "local1", at_least=1)
    bench.close()

    attempted, failed, _, rows = bench.score(backlog, untraced + traced + local1)
    rows = rows[len(untraced):len(untraced) + len(traced)]

    m: dict[str, float] = {
        "session.start_s": session_s,
        "session.jvm_start_s": first_setup_s,
        **probe,
        "plans.build_jobs": _build_jobs(event_dir),
    }
    n = len(traced)
    layer_sums: dict[str, float] = {}
    for d, (batches, jvm) in zip(traced, per_drain):
        parts = {
            **exec_metrics(event_dir, batches[0]["run_id"], d.wall_s, cores),
            **streaming_metrics(batches),
            **attribution(d, batches),
            "sinks.parquet.write_ms": d.sinks["parquet"].median_ms(),
            "sinks.leaderboard.write_ms": (
                d.sinks["leaderboard"].median_ms() if "leaderboard" in d.sinks else 0.0
            ),
            "jvm.gc_ms": jvm.gc_ms,
            "jvm.heap_peak_mb": jvm.heap_peak_mb,
        }
        for k, v in parts.items():
            layer_sums[k] = layer_sums.get(k, 0.0) + v / n
    m.update(layer_sums)
    traced_wall = _med(d.wall_s for d in traced)
    untraced_wall = statistics.mean(d.wall_s for d in untraced)
    m.update(
        {
            "sinks.parquet.rows": _med(rows),
            "operators.dedup.kept_ratio": _med(rows) / backlog.events,
            "trace.wall_s": traced_wall,
            "trace.overhead_s": traced_wall - untraced_wall,
            "untraced.wall_s": untraced_wall,
            "local1.wall_s": local1[0].wall_s,
            "local1.op_p50_ms": _med(local1[0].op_ms()),
            "local1.speedup": local1[0].wall_s / untraced_wall,
            "jvm.peak_rss_mb": peak_rss_mb,
        }
    )
    units = {"_ms": "ms", "_s": "s", "_bytes": "bytes", "_mb": "MB"}
    metrics = {
        k: (v, next((u for sfx, u in units.items() if k.endswith(sfx)), "count"))
        for k, v in m.items()
    }
    for k in ("exec.parallel_eff", "operators.dedup.kept_ratio", "local1.speedup"):
        metrics[k] = (m[k], "ratio")
    return attempted, failed, metrics, versions
