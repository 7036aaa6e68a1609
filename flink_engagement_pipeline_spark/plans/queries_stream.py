"""Driver-visible streaming queries.

The driver's correctness gate runs batch queries, so the streaming
path's guarantees (stream==batch, cross-batch keyed state, sink
exactly-once) were previously proven only in pytest. The queries here
put those guarantees behind a driver-oracle hash row: each runs a real
Structured Streaming job over the fixture (availableNow replay into a
temp dir), then returns the *written sink output* as a batch DataFrame
for the oracle compare.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from .. import tmpdirs
from ..operators.dedup import DEDUP_ORACLE_SQL
# This import registers queries_ext4's queries (and, mid-module, ext3's)
# before plans/__init__.py reaches either module: registration order
# is part of the driver contract, so moving this line, or ext4's ext3
# import, reorders REGISTRY.md and can change the computed gate window.
from .queries_ext4 import RETRACT_FINAL_ORACLE
from ..sources.datagen import gen_events
from ..sources.tables import load_table
from ..streaming.pipeline import (
    read_events_stream,
    replay_width,
    run_abandoned_clicks,
    run_enriched_fanout,
    run_session_windowed,
    run_stream,
    run_stream_stream_join,
    run_windowed,
    stage_replay_dir,
)
from ..streaming.sinks import IdempotentParquetSink
from .registry import register

# The sink output is the enrichment of the deduped (latest-per-key)
# event stream: compose the two operators' oracle SQL as CTEs.
_REPLAY_ORACLE = f"""
WITH deduped AS (
{DEDUP_ORACLE_SQL}
)
SELECT
    e.event_id                    AS event_id,
    e.user_id                     AS user_id,
    e.event_type                  AS event_type,
    e.ts                          AS ts,
    e.value                       AS value,
    CAST(e.value AS DOUBLE) / 1000.0 AS engagement_seconds,
    CASE WHEN c.c_acctbal > 0
         THEN ROUND(CAST(e.value AS DOUBLE) / c.c_acctbal, 4)
         ELSE NULL END            AS engagement_pct,
    c.c_name                      AS user_name,
    c.c_mktsegment                AS user_segment,
    c.c_nationkey                 AS user_nationkey,
    c.c_acctbal                   AS user_acctbal
FROM deduped e
LEFT JOIN customer c ON e.user_id = c.c_custkey
"""


@register(
    "stream_replay_enriched",
    oracle=_REPLAY_ORACLE,
    doc=(
        "End-to-end streaming consistency under the batch oracle: the "
        "events fixture is replayed TWICE through a file-source stream "
        "(two micro-batches via maxFilesPerTrigger=1) with cross-batch "
        "stateful dedup (T4), latest-per-key upsert semantics, and the "
        "broadcast dimension enrichment (J1), into an exactly-once "
        "IdempotentParquetSink; a forced redelivery of the last batch "
        "id is then skipped by its _COMMITTED marker. The returned "
        "frame is what the sink durably wrote — it hash-matches the "
        "batch enrichment of the deduped fixture exactly, proving "
        "stream==batch AND that the replayed second batch and the "
        "redelivered batch contributed nothing."
    ),
    tags=("streaming", "exactly-once", "stateful", "consistency"),
)
def q_stream_replay_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tmpdirs.mkdtemp(prefix="stream_replay_")  # outlives the returned plan
    # the same fixture file twice = a full replay of every key in batch 2
    events_dir = stage_replay_dir(sf_dir, tmp)
    sink = IdempotentParquetSink(os.path.join(tmp, "out"))
    with replay_width(spark):
        run_enriched_fanout(
            spark,
            events_dir,
            sf_dir,
            {"pq": sink},
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            cross_batch_dedup=True,
            max_files_per_trigger=1,
        )
    committed = sink.read_committed(spark)
    # forced redelivery: a batch id whose marker exists must be a no-op
    sink.write_batch(committed.limit(5), 0)
    return sink.read_committed(spark)


_WIN_US = 600 * 1_000_000  # 10-minute tumbling grid in microseconds


@register(
    "stream_windowed_replay",
    oracle=f"""
SELECT
    make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // {_WIN_US}) * {_WIN_US})
        AS window_start,
    make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // {_WIN_US}) * {_WIN_US}
        + {_WIN_US})                                          AS window_end,
    user_id,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)         AS engagement_sum
FROM events
GROUP BY 1, 2, 3
""",
    doc=(
        "Watermarked windowed aggregation under the driver's batch "
        "oracle (the reference's A1 as a streaming job): the events "
        "fixture replays through a file stream into a 10-minute "
        "tumbling event-time SUM with a 1-minute watermark in APPEND "
        "mode, writing closed windows to an exactly-once parquet "
        "sink. Append mode only emits a window once the watermark "
        "passes its end, so a second micro-batch carries one sentinel "
        "event 2 hours past the fixture's max timestamp — it "
        "advances the watermark past every real window's end (its own "
        "window never closes, so it never appears in the output). The "
        "durable sink contents therefore equal the plain batch "
        "tumbling aggregation of the fixture, hash-matched by the "
        "oracle — the stream==batch consistency guarantee, "
        "driver-visible."
    ),
    tags=("streaming", "window-agg", "watermark", "exactly-once"),
)
def q_stream_windowed_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tmpdirs.mkdtemp(prefix="stream_win_")  # outlives the returned plan
    events_dir = _staged_sentinel_drain_dir(spark, sf_dir, tmp, _SENTINEL, 0)
    sink = IdempotentParquetSink(os.path.join(tmp, "out"))
    with replay_width(spark):
        run_windowed(
            spark,
            events_dir,
            sink,
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
    return sink.read_committed(spark)


@register(
    "stream_late_drop_replay",
    oracle=f"""
SELECT
    make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // {_WIN_US}) * {_WIN_US})
        AS window_start,
    make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // {_WIN_US}) * {_WIN_US}
        + {_WIN_US})                                          AS window_end,
    user_id,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)         AS engagement_sum
FROM events
GROUP BY 1, 2, 3
""",
    doc=(
        "Watermark LATE-DATA DROP under the driver's batch oracle — "
        "the semantics the other replays leave implicit: after the "
        "fixture (batch 1), the watermark-advancing sentinel "
        "(batch 2), and an EMPTY drain batch (batch 3 — eviction "
        "lags the watermark update by one micro-batch, so the drain "
        "is what forces the final fixture window out of state; "
        "measured: without it, a redelivery merges into the one "
        "still-open window and doubles its sum), the ENTIRE fixture "
        "is re-delivered as a fourth micro-batch whose every event "
        "lies below the watermark with NO live window state left. "
        "If Spark dropped nothing, those rows would rebuild "
        "already-evicted window state and append-mode would emit "
        "duplicate window rows into the durable sink; the oracle — "
        "the plain batch tumbling aggregation of the fixture, "
        "identical to stream_windowed_replay's — hash-matches only "
        "because all 10k late rows were discarded (the redelivery "
        "batch emits zero rows). Bounded-state streaming is exactly "
        "this guarantee: at 100 TB/day the watermark is what lets "
        "window state be freed instead of growing forever."
    ),
    tags=("streaming", "watermark", "late-data", "exactly-once"),
)
def q_stream_late_drop_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    tmp = tmpdirs.mkdtemp(prefix="stream_late_")  # outlives the plan
    # batches 1-3: the fixture, the sentinel and one empty drain, which
    # evicts the last fixture window under the sentinel-advanced watermark
    events_dir = _staged_sentinel_drain_dir(spark, sf_dir, tmp, _SENTINEL, 1)
    # batch 4: the fixture again, one minute after the newest staged
    # file — every row now below the watermark
    after = 60 + max(
        os.path.getmtime(os.path.join(events_dir, f)) for f in os.listdir(events_dir)
    )
    late = os.path.join(events_dir, "zzz-replayed-late.parquet")
    shutil.copy(os.path.join(sf_dir, "events.parquet"), late)
    os.utime(late, (after, after))
    sink = IdempotentParquetSink(os.path.join(tmp, "out"))
    with replay_width(spark):
        run_windowed(
            spark,
            events_dir,
            sink,
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
    return sink.read_committed(spark)


@register(
    "stream_join_replay",
    oracle="""
SELECT c.user_id          AS user_id,
       c.event_id         AS click_id,
       c.ts               AS click_ts,
       p.event_id         AS purchase_id,
       p.ts               AS purchase_ts,
       p.value            AS purchase_value
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND p.ts < c.ts + INTERVAL 1 HOUR
""",
    doc=(
        "Watermarked stream-stream event-time join under the driver's "
        "batch oracle: the events fixture replays through a file "
        "stream, is split into a click stream and a purchase stream, "
        "and inner-joins on user within a [0, 1h) event-time range "
        "into an exactly-once parquet sink. Both sides carry "
        "watermarks and the join bounds event time, so buffered state "
        "is expirable — the property that makes the join runnable "
        "forever at 100 TB (the equi half drives the shuffle exactly "
        "like the batch interval join). Inner-join rows emit as "
        "matches arrive, so the durable sink output hash-matches the "
        "batch interval join of the fixture — stream==batch for the "
        "two-stream case, driver-visible."
    ),
    tags=("streaming", "stream-stream-join", "watermark", "exactly-once"),
)
def q_stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tmpdirs.mkdtemp(prefix="stream_ssj_")  # outlives the returned plan
    events_dir = stage_replay_dir(sf_dir, tmp, copies=1)
    sink = IdempotentParquetSink(os.path.join(tmp, "out"))
    with replay_width(spark):
        run_stream_stream_join(
            spark, events_dir, sink, checkpoint_dir=os.path.join(tmp, "ckpt")
        )
    return sink.read_committed(spark)


@register(
    "stream_outer_join_replay",
    oracle="""
SELECT c.user_id          AS user_id,
       c.event_id         AS click_id,
       c.ts               AS click_ts,
       COALESCE(p.event_id, -1)                 AS purchase_id,
       p.ts               AS purchase_ts,
       p.value            AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts < c.ts + INTERVAL 1 HOUR
""",
    doc=(
        "Watermarked stream-stream LEFT OUTER interval join under the "
        "driver's batch oracle — the null-emitting member of the "
        "streaming-join family (Flink's interval join emits left-outer "
        "nulls when the watermark proves no match can arrive; the "
        "inner form is stream_join_replay). The events fixture "
        "replays as batch 1; batch 2 carries two far-future sentinel "
        "rows (one click, one purchase, distinct synthetic users so "
        "they cannot join) advancing BOTH sides' watermarks past "
        "every real click's match-window end; empty drain batches "
        "then force the flush (outer emission lags the watermark "
        "update by a micro-batch, the same lag the late-drop replay "
        "pins for windows). The durable exactly-once sink therefore "
        "holds every matched pair AS IT ARRIVED plus one "
        "null-completed row per matchless click, and hash-matches "
        "the batch LEFT interval join of the fixture. The unmatched "
        "sentinel click never emits (its window never closes — "
        "absent from sink and oracle alike). purchase_id is "
        "COALESCEd to -1 in both dialects so the hasher never "
        "compares engine-specific null-integer renderings; ts/value "
        "nulls render as NaT/NaN identically. State stays bounded by "
        "the same watermark that drives the null emission — the "
        "100 TB property."
    ),
    tags=("streaming", "stream-stream-join", "outer-join", "watermark"),
)
def q_stream_outer_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tmpdirs.mkdtemp(prefix="stream_ssoj_")  # outlives the plan
    committed = _run_outer_join_replay(spark, sf_dir, tmp, how="left_outer")
    # the sentinel click's own outer row must never have been flushed
    return committed.select(
        "user_id",
        "click_id",
        "click_ts",
        F.coalesce("purchase_id", F.lit(-1).cast("long")).alias("purchase_id"),
        "purchase_ts",
        "purchase_value",
    )


# The sentinel's event-time lead over the fixture's max(ts). The
# watermark it sets (the lead minus a replay's delay of at most 1 min)
# passes every real 10-minute window, session, 1 h join window and 1 h
# abandon deadline; the sentinel's own ones never close.
_SENTINEL_LATE_MINUTES = 120

# One non-joinable sentinel: its event type matches no side filter.
_SENTINEL = ((-1, -1, "sentinel"),)


def _staged_sentinel_drain_dir(
    spark: SparkSession,
    sf_dir: str,
    tmp: str,
    sentinel_rows: tuple[tuple[int, int, str], ...],
    drains: int,
) -> str:
    """Stage the replay stream dir that drives watermark emission and
    late-drop semantics: the fixture; one sentinel file of
    `sentinel_rows` ((event_id, user_id, event_type) triples) stamped
    `_SENTINEL_LATE_MINUTES` past max(ts); then `drains` EMPTY drain
    files. Append output and timer firings trail the watermark update
    by a micro-batch: with nothing left to read, Spark runs that batch
    itself, but a replay that stages more files after the sentinel
    needs a drain to flush first (and a second covers the
    state-cleanup batch). File mtimes order the batches under
    maxFilesPerTrigger=1; the fixture symlink keeps the fixture file's
    older mtime.

    The sentinel must carry the SAME physical ts unit as the fixture
    (the driver has shipped both NANOS and MICROS units across rounds).
    Its rows are a JVM-side range(1) projection: a Python
    createDataFrame here costs ~5 s per write (the 1-row write becomes
    a Python-RDD job — measured, uniform across schemas). Epoch
    arithmetic is integer microseconds end-to-end
    (unix_micros/timestamp_micros), so no session-timezone conversion
    ever touches the value."""
    import glob as _glob
    import shutil
    import time as _time

    from ..sources.tables import events_ts_is_nanos

    events_dir = stage_replay_dir(sf_dir, tmp, copies=1)
    src = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    ev = load_table(spark, sf_dir, "events")
    max_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    late_us = max_us + _SENTINEL_LATE_MINUTES * 60 * 1_000_000
    ts_col = (
        F.lit(late_us * 1000).cast("long")  # raw nanos fixture
        if events_ts_is_nanos(src)
        else F.timestamp_micros(F.lit(late_us))
    )
    sentinel = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(eid).cast("long").alias("event_id"),
                        ts_col.alias("ts"),
                        F.lit(uid).cast("long").alias("user_id"),
                        F.lit(etype).alias("event_type"),
                        F.lit(None).cast("double").alias("value"),
                        F.lit("{}").alias("props"),
                    )
                    for eid, uid, etype in sentinel_rows
                ]
            )
        )
    )
    # stage each single-file write, then place its part file FLAT in
    # the stream dir (a directory named *.parquet would confuse the
    # file source's listing)
    stage = os.path.join(tmp, "stage")
    sentinel.coalesce(1).write.parquet(stage)
    (part,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
    now = _time.time()
    sent = os.path.join(events_dir, "z-sentinel.parquet")
    shutil.copy(part, sent)
    os.utime(sent, (now + 60, now + 60))
    if drains:
        stage_e = os.path.join(tmp, "stage_empty")
        spark.read.parquet(src).limit(0).coalesce(1).write.parquet(stage_e)
        (parte,) = _glob.glob(os.path.join(stage_e, "part-*.parquet"))
        for i in range(drains):
            drain = os.path.join(events_dir, f"zz-drain{i}.parquet")
            shutil.copy(parte, drain)
            os.utime(drain, (now + 120 + 60 * i, now + 120 + 60 * i))
    return events_dir


def _run_outer_join_replay(
    spark: SparkSession, sf_dir: str, tmp: str, how: str
) -> DataFrame:
    """Shared replay device for the outer stream-stream joins: the
    fixture as batch 1; one sentinel click + one sentinel purchase
    (2h past max(ts) — past every [0, 1h) match window — on distinct
    synthetic users so they can never join each other) as batch 2,
    advancing BOTH sides' watermarks; two empty drain batches forcing
    the lagged outer-row flush. Returns the committed exactly-once
    sink contents."""
    events_dir = _staged_sentinel_drain_dir(
        spark, sf_dir, tmp, ((-1, -1, "click"), (-2, -2, "purchase")), 2
    )
    sink = IdempotentParquetSink(os.path.join(tmp, "out"))
    with replay_width(spark):
        run_stream_stream_join(
            spark,
            events_dir,
            sink,
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            how=how,
            max_files_per_trigger=1,
        )
    return sink.read_committed(spark)


@register(
    "stream_full_outer_join_replay",
    oracle="""
SELECT COALESCE(c.user_id, p.user_id)            AS user_id,
       COALESCE(c.event_id, -1)                  AS click_id,
       c.ts                                      AS click_ts,
       COALESCE(p.event_id, -1)                  AS purchase_id,
       p.ts                                      AS purchase_ts,
       p.value                                   AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts < c.ts + INTERVAL 1 HOUR
""",
    doc=(
        "Watermarked stream-stream FULL OUTER interval join under the "
        "driver's batch oracle — completing the streaming interval-"
        "join family (inner: stream_join_replay; left outer: "
        "stream_outer_join_replay): clicks x purchases within "
        "[0, 1h), with BOTH sides null-completed when the watermark "
        "proves no partner can arrive (an unmatched purchase's match "
        "window is [p_ts - 1h, p_ts], so the same watermark horizon "
        "bounds both emission and state). Same replay device as the "
        "left-outer form: fixture, two non-joinable far-future "
        "sentinels advancing both watermarks, two empty drains to "
        "flush the lagged outer emissions; the sentinels' own outer "
        "rows never flush (no later watermark advance exists) and are "
        "absent from sink and oracle alike. Both id columns COALESCE "
        "to -1 in both dialects for engine-portable null hashing."
    ),
    tags=("streaming", "stream-stream-join", "outer-join", "watermark"),
)
def q_stream_full_outer_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tmpdirs.mkdtemp(prefix="stream_ssfj_")  # outlives the plan
    committed = _run_outer_join_replay(spark, sf_dir, tmp, how="full_outer")
    return committed.select(
        "user_id",
        F.coalesce("click_id", F.lit(-1).cast("long")).alias("click_id"),
        "click_ts",
        F.coalesce("purchase_id", F.lit(-1).cast("long")).alias("purchase_id"),
        "purchase_ts",
        "purchase_value",
    )


@register(
    "stream_abandoned_clicks_replay",
    oracle="""
SELECT c.user_id                                AS user_id,
       c.event_id                               AS click_id,
       epoch_us(CAST(c.ts AS TIMESTAMP))        AS click_ts_us
FROM events c
WHERE c.event_type = 'click'
  AND c.user_id IS NOT NULL
  AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase'
        AND p.user_id = c.user_id
        AND p.ts >= c.ts
        AND p.ts <  c.ts + INTERVAL 1 HOUR
  )
""",
    doc=(
        "Streaming ABSENCE detection under the driver's batch oracle "
        "— Flink CEP's notFollowedBy+within, the pattern no join can "
        "drive when the second row never arrives: clicks with NO "
        "purchase by the same user within [click, click + 1h), each "
        "emitted exactly when the event-time watermark passes the "
        "click's deadline, via an applyInPandasWithState EVENT-TIME "
        "TIMER (streaming/stateful.py:abandoned_clicks — "
        "setTimeoutTimestamp on the earliest pending deadline; a "
        "purchase cancels every pending click whose window contains "
        "it; state per user is the pending-click list, bounded by "
        "click rate x the 1 h horizon, with NO purchase retention). "
        "The replay stages the fixture, a non-click sentinel 2h past "
        "max(ts) advancing the watermark beyond every deadline (the "
        "sentinel's event_type filters out BEFORE the stateful op, so "
        "it advances time without creating state), and two empty "
        "drain batches flushing the timer firings (which lag the "
        "watermark update by a micro-batch). The durable exactly-once "
        "sink then holds exactly the batch NOT-EXISTS anti-join of "
        "the fixture, hash-matched; the interval-join family proves "
        "the same predicate join-side (stream_outer_join_replay's "
        "null rows) — this proves the TIMER machinery that absence, "
        "session expiry, and SLA-breach detection need. click_ts "
        "rides as integer epoch micros so no engine-specific "
        "timestamp rendering touches the hash."
    ),
    tags=("streaming", "cep", "absence", "timer", "watermark"),
)
def q_stream_abandoned_clicks_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tmp = tmpdirs.mkdtemp(prefix="stream_abandon_")  # outlives the plan
    events_dir = _staged_sentinel_drain_dir(spark, sf_dir, tmp, _SENTINEL, 2)
    sink = IdempotentParquetSink(os.path.join(tmp, "out"))
    with replay_width(spark):
        run_abandoned_clicks(
            spark,
            events_dir,
            sink,
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            max_files_per_trigger=1,
        )
    return sink.read_committed(spark)


_SSN_GAP_MIN = 5


@register(
    "stream_session_replay",
    oracle=f"""
WITH o AS (
    SELECT user_id,
           CAST(ts AS TIMESTAMP) AS ts,
           CAST(value AS DECIMAL(18,2)) AS v,
           CASE WHEN CAST(ts AS TIMESTAMP)
                     - lag(CAST(ts AS TIMESTAMP))
                       OVER (PARTITION BY user_id ORDER BY ts)
                     < INTERVAL {_SSN_GAP_MIN} MINUTE
                THEN 0 ELSE 1 END AS new_s
    FROM events
),
s AS (
    SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM o
)
SELECT min(ts)                                   AS window_start,
       max(ts) + INTERVAL {_SSN_GAP_MIN} MINUTE  AS window_end,
       user_id,
       CAST(SUM(v) AS DOUBLE)                    AS engagement_sum
FROM s
GROUP BY user_id, sid
""",
    doc=(
        f"Watermarked SESSION-window aggregation under the driver's "
        f"batch oracle: the events fixture replays through a file "
        f"stream into per-user session windows (gap "
        f"{_SSN_GAP_MIN} min) summing engagement, in APPEND mode into "
        "an exactly-once parquet sink. Sessions are data-driven "
        "mergeable state — a session emits only when the watermark "
        "passes its end (last event + gap), which is also what makes "
        "session state evictable at 100 TB. The second-micro-batch "
        "sentinel advances the watermark past every real session's "
        "end (its own session never closes, so it never emits); the "
        "durable sink output therefore equals the batch "
        "gaps-and-islands sessionization of the fixture, hash-matched "
        "by the oracle."
    ),
    tags=("streaming", "session-window", "watermark", "exactly-once"),
)
def q_stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tmpdirs.mkdtemp(prefix="stream_ssn_")  # outlives the returned plan
    events_dir = _staged_sentinel_drain_dir(spark, sf_dir, tmp, _SENTINEL, 0)
    sink = IdempotentParquetSink(os.path.join(tmp, "out"))
    with replay_width(spark):
        run_session_windowed(
            spark,
            events_dir,
            sink,
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            gap=f"{_SSN_GAP_MIN} minutes",
            max_files_per_trigger=1,
        )
    return sink.read_committed(spark)


@register(
    "datagen_events",
    oracle=None,  # hash-arithmetic generator: no SQL-expressible oracle
    doc=(
        "Distributed deterministic workload generator (reference "
        "src/datagen.py:49-68 as hash arithmetic over spark.range — "
        "SURVEY §3.3): 10k events at 7/s, the divisor-with-remainder "
        "rate whose drift-free integer spacing is property-tested in "
        "pytest (tests/test_plans.py::test_datagen_rate_exact_no_drift). "
        "Rows-only driver check: row count and schema stability; "
        "bit-identical regeneration under any partitioning is the "
        "pytest-pinned contract."
    ),
    tags=("datagen", "rows-only"),
)
def q_datagen_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gen_events(spark, 10_000, events_per_second=7, partitions=8)


@register(
    "stream_stateful_replay",
    oracle="""
SELECT user_id,
       CAST(2 * count(*) AS BIGINT) AS n_events,
       CAST(2 * coalesce(sum(
           CASE WHEN value IS NULL THEN 0
                WHEN value >= 0 THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                ELSE -CAST(floor(-value * 100 + 0.5) AS BIGINT) END), 0)
            AS BIGINT) AS total_cents
FROM events
WHERE user_id IS NOT NULL
GROUP BY user_id
""",
    doc=(
        "Custom stateful operator under the driver oracle: the events "
        "fixture replays TWICE (maxFilesPerTrigger=1 -> two "
        "micro-batches) through the applyInPandasWithState running "
        "per-user accumulator (streaming/stateful.py, integer-cent "
        "state so accumulation is order-independent), update-mode "
        "output lands in the exactly-once IdempotentParquetSink, and "
        "the LAST committed batch is returned. Every user's final "
        "(n_events, total_cents) equals exactly 2x the batch "
        "aggregate — the doubling is the PROOF that per-key state "
        "survived across micro-batches, and the cent quantization is "
        "what lets a Python stateful processor hash-match a SQL "
        "oracle value-for-value."
    ),
    tags=("streaming", "stateful", "exactly-once", "consistency"),
)
def q_stream_stateful_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import running_user_totals_cents

    tmp = tmpdirs.mkdtemp(prefix="stream_stateful_")
    events_dir = stage_replay_dir(sf_dir, tmp)
    sink = IdempotentParquetSink(os.path.join(tmp, "out"))
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    totals = running_user_totals_cents(
        stream.filter(F.col("user_id").isNotNull())
    )
    with replay_width(spark):
        run_stream(
            totals, sink.write_batch, os.path.join(tmp, "ckpt"), "update"
        )
    final = spark.read.option("pathGlobFilter", "*.parquet").parquet(
        sink.committed_paths()[-1]
    )
    return final.select("user_id", "n_events", "total_cents")


@register(
    "stream_retract_replay",
    oracle=RETRACT_FINAL_ORACLE,
    doc=(
        "Incremental materialized-view maintenance from a CDC feed — "
        "the production shape of a streaming warehouse — under the "
        "driver oracle: micro-batch 0 delivers the snapshot (the "
        "changelog's creates), micro-batch 1 the incremental CDC day "
        "(updates with cross-group moves + deletes); each batch's "
        "signed retract-contributions (sources/cdc.py:"
        "retract_aggregate, keep_retired=True so delete-heavy batches "
        "carry their negative partials) MERGE with the previous "
        "committed state by plain associative addition, and the new "
        "state commits to the exactly-once IdempotentParquetSink "
        "keyed by batch id. The final committed state hash-matches "
        "the SAME final-state oracle as the batch cdc_retract_agg — "
        "stream==batch for retracting aggregation. At 100 TB the "
        "state is group-cardinality-sized (not key-sized!): merging "
        "is a union of two tiny grouped relations, which is why "
        "retractable SUM/COUNT need no per-key state store at all."
    ),
    tags=("streaming", "cdc", "retract", "exactly-once", "consistency"),
)
def q_stream_retract_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import cdc
    from .queries_ext4 import RETRACT_ROW_SCHEMA, synth_changelog_wire

    tmp = tmpdirs.mkdtemp(prefix="stream_retract_")
    # same fixture file twice + maxFilesPerTrigger=1 -> two micro-batches
    events_dir = stage_replay_dir(sf_dir, tmp)
    sink = IdempotentParquetSink(os.path.join(tmp, "out"))

    def apply(df, bid):
        ops = "c" if bid == 0 else "ud"
        wire = synth_changelog_wire(df, ops)
        changes = cdc.parse_full_cdc_envelope(wire, RETRACT_ROW_SCHEMA)
        partial = cdc.retract_aggregate(
            changes, "event_type", "cents", keep_retired=True
        )
        prev_dirs = sink.committed_paths(below=bid)
        if prev_dirs:
            prev = (
                spark.read.option("pathGlobFilter", "*.parquet")
                .parquet(prev_dirs[-1])
                .select("event_type", "n_live", "total")
            )
            merged = (
                prev.unionByName(partial)
                .groupBy("event_type")
                .agg(
                    F.sum("n_live").cast("long").alias("n_live"),
                    F.sum("total").cast("long").alias("total"),
                )
            )
        else:
            merged = partial
        sink.write_batch(merged, bid)

    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    with replay_width(spark):
        run_stream(stream, apply, os.path.join(tmp, "ckpt"))
    last_dir = sink.committed_paths()[-1]
    final = spark.read.option("pathGlobFilter", "*.parquet").parquet(last_dir)
    return final.filter(F.col("n_live") > 0).select(
        "event_type", "n_live", F.col("total").alias("total_cents")
    )


# ---------------------------------------------------------------------------
# streaming sketch maintenance (round 6)
# ---------------------------------------------------------------------------

from .queries_ext3 import _HLL_EST, _HLL_M, hll_estimate, hll_registers  # noqa: E402


@register(
    "stream_sketch_replay",
    oracle=f"""
WITH h AS (
    SELECT event_type,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS x
    FROM events WHERE user_id IS NOT NULL
),
r AS (
    SELECT event_type, x % {_HLL_M} AS reg,
           1 + length(bin(x // {_HLL_M}))
             - length(rtrim(bin(x // {_HLL_M}), '0')) AS rho
    FROM h
),
regs AS (
    SELECT event_type, reg, max(rho) AS m_rho
    FROM r GROUP BY event_type, reg
),
sketch AS (
    SELECT event_type,
           count(*) AS registers_used,
           CAST(sum(CAST(1 AS BIGINT) << (55 - m_rho)) AS BIGINT)
             + ({_HLL_M} - count(*)) * (CAST(1 AS BIGINT) << 55)
             AS s_scaled
    FROM regs GROUP BY event_type
)
SELECT event_type, registers_used, {_HLL_EST} AS hll_estimate
FROM sketch
""",
    doc=(
        "Incremental sketch maintenance under the driver oracle — the "
        "streaming face of hll_portable_reach. The fixture replays as "
        "two micro-batches carrying DISJOINT halves (even event_ids "
        "in batch 0, odd in batch 1 — disjointness is what makes the "
        "merge a real union of different registers rather than an "
        "idempotence no-op); each batch builds its portable-HLL "
        "register partials and MERGES with the previously committed "
        "registers by groupBy(key, reg).max(m_rho) — the HLL merge "
        "operator — committing to the exactly-once "
        "IdempotentParquetSink per batch id. The final committed "
        "registers yield estimates that hash-match the whole-corpus "
        "batch oracle: stream == batch for sketch maintenance, the "
        "property that lets a 100 TB pipeline keep one "
        "64-register-per-group state table instead of re-scanning "
        "raw ids every day. Merge algebra is unit-pinned in "
        "tests/test_ext4.py: max-merge of disjoint halves == whole on "
        "the fixture, and on two crafted users colliding into one "
        "register with different rho the merge provably raises the "
        "committed register (the cross-batch state is load-bearing)."
    ),
    tags=("streaming", "sketch", "hll", "exactly-once", "consistency"),
)
def q_stream_sketch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = tmpdirs.mkdtemp(prefix="stream_sketch_")
    # same fixture file twice + maxFilesPerTrigger=1 -> two micro-batches
    events_dir = stage_replay_dir(sf_dir, tmp)
    sink = IdempotentParquetSink(os.path.join(tmp, "out"))

    def apply(df, bid):
        # batch i keeps event_id % 2 == i: the replayed copies carve
        # the corpus into disjoint halves whose register union must
        # reconstruct the whole-corpus sketch
        half = df.filter((F.col("event_id") % 2) == F.lit(bid % 2))
        partial = hll_registers(half)
        prev_dirs = sink.committed_paths(below=bid)
        if prev_dirs:
            prev = (
                spark.read.option("pathGlobFilter", "*.parquet")
                .parquet(prev_dirs[-1])
                .select("event_type", "reg", "m_rho")
            )
            merged = (
                prev.unionByName(partial)
                .groupBy("event_type", "reg")
                .agg(F.max("m_rho").alias("m_rho"))
            )
        else:
            merged = partial
        sink.write_batch(merged, bid)

    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    with replay_width(spark):
        run_stream(stream, apply, os.path.join(tmp, "ckpt"))
    last_dir = sink.committed_paths()[-1]
    regs = spark.read.option("pathGlobFilter", "*.parquet").parquet(last_dir)
    return hll_estimate(regs.select("event_type", "reg", "m_rho"))
