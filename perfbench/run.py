#!/usr/bin/env python3
"""The engine's benchmark: one command, one workload, one JSON result.

    python3 perfbench/run.py --workload stream_fanout --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into a scratch directory under the checkout (removed on exit); the
program only ever sees those files. Workloads (see ``workloads.py``):

- ``stream_fanout``: ``run_enriched_fanout`` with cross-batch dedup into
  ``IdempotentParquetSink`` and the in-memory ``RedisLeaderboardSink``;
- ``stream_window``: ``run_windowed`` with the reference's 10 min / 5 s
  HOP in append mode, closed by a sentinel file.

``--trace 0`` reports the end-to-end metrics: median set-up time
(session + warm-up job + input staging) over five set-ups, the
fastest drain's wall time, events/s and micro-batch latency p50/p90. Every drain
is checked against a DuckDB oracle after timing; a drain that raises or
mismatches counts all its micro-batches as failed.

``--trace 1`` reports the per-layer metrics (see ``layers.py``): a
traced pass (Spark event log, a ``StreamingQueryListener``, timed
sinks, JMX) between two untraced ones, plan and Catalyst probes on one
input file at a time, and a ``local[1]`` single-thread baseline.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it stamps the host and engine versions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 5  # set-ups per run; setup_s is their median

# Per-workload sizes. A drain is one pass over `files` files of
# `events_per_file` events. The warm-up drain of each run replays a
# differently seeded backlog of the same size: the JVM keeps compiling
# for several drains, and a shorter warm-up leaves the first measured
# drains slower than the rest.
PARAMS = {
    "stream_fanout": {"files": 8, "events_per_file": 4000},
    "stream_window": {
        "files": 5,
        "events_per_file": 4000,
        # events per second of event time: each file advances the
        # watermark by 4 s, closing ~1 slide of 150 user windows, so a
        # micro-batch writes a few percent of the rows it reads; only
        # the final no-data batch flushes the open windows
        "event_rate": 1000,
        "jitter_s": 20,  # out-of-orderness, inside the 1 minute watermark
    },
}


def log(msg: str) -> None:
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(round(q * len(s))) - 1))]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--key-skew", type=float, default=1.1,
                    help="Zipf exponent of the user distribution")
    ap.add_argument("--replay-share", type=float, default=0.2,
                    help="share of each later file that replays earlier keys")
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes (Python, JVM, Spark) under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def stamp(versions: dict) -> dict:
    commit = None  # a plain source tree has none
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        ).stdout.strip() or None
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return {
        "commit": commit,
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
        **versions,
    }


class Bench:
    """One run of one workload: set-ups, timed drains, checks."""

    def __init__(self, args, work: str):
        import workloads

        self.args = args
        self.work = work
        self.workload = workloads.WORKLOADS[args.workload]
        self.params = dict(
            PARAMS[args.workload], key_skew=args.key_skew, replay_share=args.replay_share
        )
        self.spark = None
        self.n_dirs = 0

    def fresh_dir(self, label: str) -> str:
        self.n_dirs += 1
        path = os.path.join(self.work, f"{self.n_dirs:03d}-{label}")
        os.makedirs(path)
        return path

    def restart(self, cores=None, extra_conf=None) -> float:
        """New session (the first one also launches the JVM) and the
        warm-up job; returns its seconds."""
        import engine

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = engine.start(cores, extra_conf)
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """Drain a differently seeded backlog of the same size: the first
        pass of a session compiles what every later micro-batch reuses."""
        warm = self.workload.stage(
            self.fresh_dir("warm-in"), self.args.seed + 1_000_003, self.params
        )
        self.workload.drain(self.spark, warm, self.fresh_dir("warm-out"))

    def setup(self):
        """Session + warm-up job, and freshly staged inputs. Returns
        (backlog, seconds, session seconds)."""
        t0 = time.perf_counter()
        t_session = self.restart()
        backlog = self.workload.stage(self.fresh_dir("in"), self.args.seed, self.params)
        return backlog, time.perf_counter() - t0, t_session

    def setups(self):
        """SETUPS set-ups, then one warm-up drain; the last session and
        inputs stay up. Only the first set-up launches the JVM. Returns
        (backlog, median seconds, median session seconds, first set-up
        seconds)."""
        results = [self.setup() for _ in range(SETUPS)]
        self.warm_up()
        return (
            results[-1][0],
            statistics.median(r[1] for r in results),
            statistics.median(r[2] for r in results),
            results[0][1],
        )

    def drains(self, backlog, seconds: float, label: str, at_least: int = 2):
        """Drain the backlog again and again, starting another drain
        while at least half of it should fit in `seconds` (at least
        `at_least` drains)."""
        out, t0 = [], time.perf_counter()
        while True:
            out.append(self.workload.drain(self.spark, backlog, self.fresh_dir(label)))
            spent = time.perf_counter() - t0
            if len(out) >= at_least and spent + spent / len(out) / 2 > seconds:
                return out

    def score(self, backlog, drains):
        """(attempted, failed, op latencies, sink rows per drain); runs
        the oracle checks, so call it after timing."""
        attempted = failed = 0
        ops: list[float] = []
        rows: list[int] = []
        expected = self.workload.oracle(backlog)
        for d in drains:
            ok, n_rows = False, 0
            if d.error is not None:
                log(f"drain {d.out_dir} failed: {d.error}")
            else:
                try:
                    ok, n_rows = self.workload.check(expected, d)
                except Exception as exc:  # a check that cannot run is a failure
                    log(f"check of {d.out_dir} failed to run: {exc!r}")
                if not ok:
                    log(f"drain {d.out_dir} does not match the oracle")
            n = len(d.op_ms()) if d.error is None else self.workload.expected_ops(backlog)
            attempted += n
            failed += 0 if ok else n
            ops.extend(d.op_ms())
            rows.append(n_rows)
        return attempted, failed, ops, rows

    def end_to_end(self):
        import engine

        backlog, setup_s, _, _ = self.setups()
        log(f"set up in {setup_s:.2f} s (median of {SETUPS}), warmed up")
        drains = self.drains(backlog, self.args.seconds, "out")
        versions = engine.versions(self.spark)
        self.close()
        attempted, failed, ops, _ = self.score(backlog, drains)
        # the fastest drain, as bench.py takes the fastest run: other
        # tenants of the host only ever add time
        wall_s = min(d.wall_s for d in drains)
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "events_per_s": (backlog.events / wall_s, "1/s"),
            "op_ms_p50": (statistics.median(ops), "ms"),
            "op_ms_p90": (quantile(ops, 0.9), "ms"),
        }
        log(
            f"{self.args.workload}: {len(drains)} drains "
            f"({', '.join(f'{d.wall_s:.2f}' for d in drains)} s), {len(ops)} ops, "
            f"error_rate={failed / max(attempted, 1):.4f}"
        )
        return attempted, failed, metrics, versions

    def close(self) -> None:
        import engine

        engine.shutdown(self.spark)
        self.spark = None


def main(argv=None) -> int:
    args = parse_args(argv)
    os.chdir(ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    sys.path.insert(0, ROOT)
    bench = None
    try:
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        bench = Bench(args, work)
        if args.trace:
            import layers

            attempted, failed, metrics, versions = layers.per_layer(bench)
        else:
            attempted, failed, metrics, versions = bench.end_to_end()
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"stamp": stamp(versions), "params": bench.params}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
