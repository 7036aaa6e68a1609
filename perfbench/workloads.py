"""The stream workloads: inputs, one drain of the backlog, and its check.

A drain replays the whole staged backlog through one ``run_*`` call
(``trigger(availableNow=True)``, one file per micro-batch) into fresh
sinks and a fresh checkpoint. The loop is closed with one client: the
next micro-batch starts only when the previous one has committed, and
the next drain only when the previous call has returned.

Each sink the program receives is wrapped in a :class:`StampedSink`,
which records when each ``write_batch`` call began and ended and
delegates unchanged. The start stamps of the first sink mark the
micro-batches: an op runs from its batch reaching the sink to the next
batch reaching it (or the ``run_*`` call returning).
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

import duckdb

import gen
from flink_engagement_pipeline_spark.operators.dedup import latest_per_key
from flink_engagement_pipeline_spark.operators.enrich import ENRICH_ORACLE_SQL, enrich_events
from flink_engagement_pipeline_spark.streaming.pipeline import (
    run_enriched_fanout,
    run_windowed,
    windowed_stream,
)
from flink_engagement_pipeline_spark.streaming.sinks import (
    IdempotentParquetSink,
    RedisLeaderboardSink,
)
from tests.oracle_utils import canon_rows

# the reference's HOP: 10 minute windows sliding every 5 seconds
HOP_SIZE_S, HOP_SLIDE_S = 600, 5


class StampedSink:
    """Delegating sink that records the wall-clock span of each write."""

    def __init__(self, sink):
        self.sink = sink
        self.spans: list[tuple[float, float]] = []

    def write_batch(self, df, batch_id: int) -> None:
        t0 = time.perf_counter()
        try:
            self.sink.write_batch(df, batch_id)
        finally:
            self.spans.append((t0, time.perf_counter()))

    def close(self) -> None:
        self.sink.close()

    def busy_ms(self) -> float:
        return sum(b - a for a, b in self.spans) * 1e3

    def median_ms(self) -> float:
        return statistics.median(b - a for a, b in self.spans) * 1e3 if self.spans else 0.0


@dataclass
class Drain:
    """One pass over the backlog: wall clock, sinks and per-op times."""

    out_dir: str
    started: float = 0.0  # time.time() at the run_* call
    t0: float = 0.0  # time.perf_counter() at the run_* call
    wall_s: float = 0.0
    sinks: dict[str, StampedSink] = field(default_factory=dict)
    inner: dict = field(default_factory=dict)
    error: str | None = None

    def op_ms(self) -> list[float]:
        marks = [a for a, _ in next(iter(self.sinks.values())).spans]
        if not marks:
            return []
        ends = marks[1:] + [self.t0 + self.wall_s]
        return [(b - a) * 1e3 for a, b in zip(marks, ends)]


class Workload:
    """A stream job over a staged backlog; subclasses fill in the hooks."""

    name = ""

    def stage(self, root: str, seed: int, params: dict) -> gen.Backlog:
        raise NotImplementedError

    def _sinks_and_call(self, spark, backlog: gen.Backlog, out_dir: str):
        """(wrapped sinks, the sinks inside them, the ``run_*`` call)."""
        raise NotImplementedError

    def drain(self, spark, backlog: gen.Backlog, out_dir: str) -> Drain:
        d = Drain(out_dir)
        d.sinks, d.inner, call = self._sinks_and_call(spark, backlog, out_dir)
        d.started, d.t0 = time.time(), time.perf_counter()
        try:
            call()
        except Exception as exc:  # the op failed; the run goes on and counts it
            d.error = f"{type(exc).__name__}: {exc}"
        d.wall_s = time.perf_counter() - d.t0
        return d

    def expected_ops(self, backlog: gen.Backlog) -> int:
        return len(backlog.files)

    def oracle(self, backlog: gen.Backlog):
        """The expected outputs of a drain of `backlog` (DuckDB)."""
        raise NotImplementedError

    def check(self, expected, d: Drain) -> tuple[bool, int]:
        """(the drain's outputs equal `expected`, sink rows)."""
        raise NotImplementedError

    def batch_plan(self, batch, dim):
        """The plan the stream builds for one micro-batch, on a static
        frame (for the plan and Catalyst probes)."""
        raise NotImplementedError


def _sql_str(text: str) -> str:
    return "'" + text.replace("'", "''") + "'"


def _read_sink(sink_dir: str):
    """Every row the sink committed, read back with DuckDB."""
    with duckdb.connect() as con:
        return con.execute(
            "SELECT * FROM read_parquet(?, hive_partitioning = false)",
            [os.path.join(sink_dir, "batch_id=*", "*.parquet")],
        ).fetch_df()


class StreamFanout(Workload):
    """The paper's processing job: upsert events, cross-batch dedup,
    broadcast enrichment, fan-out to a parquet sink and a leaderboard."""

    name = "stream_fanout"

    def stage(self, root, seed, params):
        return gen.upsert_backlog(
            root,
            seed,
            files=params["files"],
            events_per_file=params["events_per_file"],
            key_skew=params["key_skew"],
            replay_share=params["replay_share"],
        )

    def _sinks_and_call(self, spark, backlog, out_dir):
        parquet = IdempotentParquetSink(os.path.join(out_dir, "sink"))
        board = RedisLeaderboardSink()
        sinks = {"parquet": StampedSink(parquet), "leaderboard": StampedSink(board)}

        def call():
            run_enriched_fanout(
                spark,
                backlog.events_dir,
                backlog.dim_dir,
                sinks,
                os.path.join(out_dir, "ckpt"),
                cross_batch_dedup=True,
                max_files_per_trigger=1,
            )

        return sinks, {"parquet": parquet, "leaderboard": board}, call

    def batch_plan(self, batch, dim):
        return enrich_events(latest_per_key(batch), dim)

    def oracle(self, backlog):
        con = duckdb.connect()
        try:
            # first occurrence per key: files replay in name (= mtime) order
            con.execute(
                "CREATE VIEW events AS SELECT event_id, ts, user_id, event_type, value, props "
                f"FROM read_parquet({_sql_str(os.path.join(backlog.events_dir, '*.parquet'))}, "
                "filename = true) "
                "QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY filename) = 1"
            )
            con.execute(
                "CREATE VIEW customer AS SELECT * FROM "
                f"read_parquet({_sql_str(os.path.join(backlog.dim_dir, 'customer.parquet'))})"
            )
            rows = con.execute(ENRICH_ORACLE_SQL).fetch_df()
            scores = dict(
                con.execute(
                    "SELECT user_id, sum(CAST(value AS DOUBLE) / 1000.0) AS s FROM events "
                    "WHERE user_id IS NOT NULL GROUP BY user_id HAVING s <> 0"
                ).fetchall()
            )
        finally:
            con.close()
        # engagement_pct is compared on its own, below
        return rows, canon_rows(rows.drop(columns="engagement_pct")), scores

    def check(self, expected, d):
        rows, canon, scores = expected
        actual = _read_sink(os.path.join(d.out_dir, "sink"))
        board = d.inner["leaderboard"].scores
        # engagement_pct is ROUND(x, 4) of a double: Spark rounds the
        # shortest decimal form HALF_UP, DuckDB the binary value, so an
        # exact tie (10.53 / 200.0 = 0.05265) differs in the last place
        # only. Compare it per event within that place; all else exactly.
        pct = rows[["event_id", "engagement_pct"]].merge(
            actual[["event_id", "engagement_pct"]], on="event_id", how="outer"
        )
        a, b = pct["engagement_pct_x"], pct["engagement_pct_y"]
        pct_ok = bool(((a - b).abs() <= 1.000001e-4).where(a.notna(), b.isna()).all())
        rows_ok = pct_ok and canon_rows(actual.drop(columns="engagement_pct")) == canon
        board_ok = board.keys() == scores.keys() and all(
            math.isclose(board[k], v, rel_tol=1e-9, abs_tol=1e-9) for k, v in scores.items()
        )
        return rows_ok and board_ok, len(actual)


class StreamWindow(Workload):
    """The reference's leaderboard feed: a 10 min / 5 s HOP SUM per user
    with a 1 minute watermark, in append mode."""

    name = "stream_window"

    def stage(self, root, seed, params):
        return gen.window_backlog(
            root,
            seed,
            files=params["files"],
            events_per_file=params["events_per_file"],
            key_skew=params["key_skew"],
            events_per_s=params["event_rate"],
            jitter_s=params["jitter_s"],
        )

    def expected_ops(self, backlog):
        # one batch per file, then the no-data batch that evicts the
        # windows the sentinel's watermark closed
        return len(backlog.files) + 1

    def _sinks_and_call(self, spark, backlog, out_dir):
        parquet = IdempotentParquetSink(os.path.join(out_dir, "sink"))
        sinks = {"parquet": StampedSink(parquet)}

        def call():
            run_windowed(
                spark,
                backlog.events_dir,
                sinks["parquet"],
                os.path.join(out_dir, "ckpt"),
                size=f"{HOP_SIZE_S} seconds",
                slide=f"{HOP_SLIDE_S} seconds",
                max_files_per_trigger=1,
            )

        return sinks, {"parquet": parquet}, call

    def batch_plan(self, batch, dim):
        return windowed_stream(
            batch, size=f"{HOP_SIZE_S} seconds", slide=f"{HOP_SLIDE_S} seconds"
        )

    def oracle(self, backlog):
        slide_us, size_us = HOP_SLIDE_S * 10**6, HOP_SIZE_S * 10**6
        con = duckdb.connect()
        try:
            rows = con.execute(
                f"""
                WITH ev AS (
                    SELECT epoch_us(ts) AS t, user_id, value
                    FROM read_parquet(?) WHERE event_type <> 'sentinel'
                ), w AS (
                    SELECT (t // {slide_us}) * {slide_us} - k * {slide_us} AS ws, user_id, value
                    FROM ev, range({size_us // slide_us}) r(k)
                )
                SELECT make_timestamp(ws) AS window_start,
                       make_timestamp(ws + {size_us}) AS window_end,
                       user_id,
                       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS engagement_sum
                FROM w GROUP BY ALL
                """,
                [os.path.join(backlog.events_dir, "*.parquet")],
            ).fetch_df()
        finally:
            con.close()
        return canon_rows(rows)

    def check(self, expected, d):
        actual = _read_sink(os.path.join(d.out_dir, "sink"))
        return canon_rows(actual) == expected, len(actual)


WORKLOADS = {w.name: w for w in (StreamFanout(), StreamWindow())}
