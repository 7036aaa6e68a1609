"""Custom stateful streaming operators via applyInPandasWithState
(SURVEY.md §2.11: the extension mechanism for operators Structured
Streaming lacks; this is the engine's pattern for "keep per-key state
across micro-batches").

Two operators live here:

- ``running_user_totals_cents``: a running per-user engagement
  accumulator, state = (n_events, total_cents) per user_id, updated
  every micro-batch and emitting the refreshed totals for users seen
  in that batch — the stateful generalization of the Redis ZINCRBY
  leaderboard (reference src/process.py:92), kept inside the engine
  instead of an external store. State is integer cents, so the totals
  after any replay schedule are exact and the registered
  ``stream_stateful_replay`` hash-matches a SQL oracle.
- ``abandoned_clicks``: event-time TIMER absence detection (Flink
  CEP's notFollowedBy + within).

Scale notes: state is partitioned by the grouping key across
executors (RocksDB-backed state store in production via
``spark.sql.streaming.stateStore.providerClass``); the pandas
function sees one Arrow batch per key group, never row-at-a-time
Python. GroupStateTimeout would evict idle keys for unbounded key
spaces — the fixture replay is bounded, so the accumulator sets no
timeout.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from ..operators.windows import parse_interval_us

CENTS_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
    ]
)

CENTS_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
    ]
)


def _cents_sum(values: pd.Series) -> int:
    """Sign-aware half-up cent quantization (the windows.py
    convention), summed as Python ints — order-independent, so the
    cross-batch accumulation is exactly reproducible in SQL."""
    import numpy as np

    x = values.dropna().to_numpy(dtype=float)
    if not len(x):
        return 0
    c = np.where(x >= 0, np.floor(x * 100 + 0.5), -np.floor(-x * 100 + 0.5))
    return int(c.sum())


def _update_cents(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, cents = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        cents += _cents_sum(pdf["value"])
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
    )


def running_user_totals_cents(events: DataFrame) -> DataFrame:
    """Streaming per-user running (count, cent-exact sum) across
    micro-batches. Because state is integer cents, the value after ANY
    replay schedule is a pure function of the multiset of inputs, which
    is what lets the registered `stream_stateful_replay` query
    hash-match a batch SQL oracle instead of settling for a
    stream==batch pytest."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_cents,
            outputStructType=CENTS_OUTPUT_SCHEMA,
            stateStructType=CENTS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# event-time TIMER absence detection (Flink CEP notFollowedBy / timeout)
# ---------------------------------------------------------------------------

ABANDON_WINDOW_US = 3_600_000_000  # 1 hour, the funnel bound

ABANDON_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("click_id", LongType()),
        StructField("click_ts_us", LongType()),
    ]
)

ABANDON_STATE_SCHEMA = StructType(
    [
        StructField("click_ids", ArrayType(LongType())),
        StructField("click_ts", ArrayType(LongType())),
        StructField("purchase_ts", ArrayType(LongType())),
    ]
)


def _abandon(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user absence state machine: pending clicks wait for a
    purchase in [click_ts, click_ts + 1h); a purchase cancels every
    pending click whose window contains it; the EVENT-TIME TIMER
    (setTimeoutTimestamp on the earliest pending deadline) fires when
    the watermark proves no purchase can arrive, emitting the
    abandoned click.

    State per key is the pending-click list PLUS the recent-purchase
    list, both evicted by the same watermark horizon (retain while
    ts + 1h > watermark), so state stays bounded by the user's event
    rate times the 1 h window. Purchases MUST be retained (ADVICE r7):
    micro-batch arrival order is not event-time order — with any
    nonzero watermark delay a click may arrive a batch AFTER a
    same-window purchase (and even at '0 seconds' an equal-timestamp
    click can land one batch later), so the cancel predicate has to
    close over purchases already seen, not just this batch's. The
    retention bound is exactly sufficient: a purchase p cancels clicks
    t in (p-1h, p], and any click still capable of arriving-or-pending
    has t + 1h > wm, so p matters only while p + 1h > wm — purchases
    older than that could only cancel clicks later than the full 1 h
    horizon, which the watermark contract (delay <= 1h, enforced by
    abandoned_clicks) already excludes from the stream.

    STATE-SCHEMA NOTE (round 8): purchase retention widened the state
    tuple from 2 array fields to 3. Legacy 2-field state (a checkpoint
    written before round 8) is read with an empty purchase list — the
    guard below — so restoring an old checkpoint degrades to the old
    (purchase-loss-prone) semantics for in-flight keys rather than
    crashing; fresh checkpoints get the full contract."""
    if key[0] is None:  # null keys can't be abandoned; keep no state
        for _ in batches:
            pass
        return
    if state.exists:
        s = state.get
        # len guard: legacy 2-field (pre-purchase-retention) state
        # restores with no remembered purchases instead of crashing
        ids, tss = list(s[0]), list(s[1])
        ps = list(s[2]) if len(s) > 2 and s[2] is not None else []
    else:
        ids, tss, ps = [], [], []
    for pdf in batches:  # drain fully before touching state
        if not len(pdf):
            continue
        c = pdf[pdf["event_type"] == "click"]
        ids.extend(int(x) for x in c["event_id"])
        tss.extend(int(x) for x in c["ts_us"])
        ps.extend(
            int(x) for x in pdf.loc[pdf["event_type"] == "purchase", "ts_us"]
        )
    if ps:
        keep = [
            (i, t)
            for i, t in zip(ids, tss)
            if not any(t <= p < t + ABANDON_WINDOW_US for p in ps)
        ]
        ids = [i for i, _ in keep]
        tss = [t for _, t in keep]
    wm_us = state.getCurrentWatermarkMs() * 1000
    expired = [(i, t) for i, t in zip(ids, tss) if t + ABANDON_WINDOW_US <= wm_us]
    pend = [(i, t) for i, t in zip(ids, tss) if t + ABANDON_WINDOW_US > wm_us]
    ps = [p for p in ps if p + ABANDON_WINDOW_US > wm_us]
    if pend or ps:
        state.update(
            ([i for i, _ in pend], [t for _, t in pend], ps)
        )
        # ceil to ms so the timer never lands AT the watermark (the
        # API requires strictly-future timestamps); a sub-ms-late
        # firing is re-covered by the next watermark advance. Purchase
        # eviction times participate so purchase-only state is still
        # cleaned by a timer instead of lingering forever.
        state.setTimeoutTimestamp(
            min(t + ABANDON_WINDOW_US for t in [t for _, t in pend] + ps)
            // 1000
            + 1
        )
    else:
        state.remove()
    if expired:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(expired),
                "click_id": [i for i, _ in expired],
                "click_ts_us": [t for _, t in expired],
            }
        )


def abandoned_clicks(events: DataFrame, watermark: str = "0 seconds") -> DataFrame:
    """Streaming funnel-abandonment detector — the ABSENCE member of
    the CEP family (Flink's notFollowedBy + within): clicks with NO
    purchase by the same user within one hour, emitted exactly when
    the event-time watermark passes the click's deadline. The
    interval-join family proves the same predicate join-side
    (stream_outer_join_replay's null rows); this proves the TIMER
    machinery — applyInPandasWithState with EventTimeTimeout — that
    patterns like absence, session expiry, and SLA breach detection
    need when no second stream row ever arrives to drive the join.

    Event-type/null-key filtering happens INSIDE the operator, never
    as a pre-groupBy `.filter`: Catalyst pushes such a filter through
    the EventTimeWatermark node INTO the parquet scan, so rows of
    other event types stop reaching the watermark accumulator and the
    watermark (hence every timer) stalls whenever clicks/purchases go
    quiet while other traffic flows — measured, not hypothetical: the
    replay's watermark-advancing sentinel row was scan-pruned and the
    final pending click never fired. The operator's state contract
    doesn't change (non-click/purchase rows contribute nothing and
    null-key groups keep no state); a deployment that wants scan-side
    pruning must do it at the SOURCE (a pre-filtered topic), where the
    watermark is computed from what the operator will actually see.

    The configured watermark delay must be <= the 1 h abandon window:
    the purchase-retention eviction bound (retain while p + 1h > wm)
    is exactly sufficient only under that contract — with a larger
    delay, a click arriving later than 1 h after its cancelling
    purchase would find the purchase already evicted and be falsely
    emitted. Enforced here, at the public API (ADVICE r8)."""
    delay_us = parse_interval_us(watermark)
    if delay_us > ABANDON_WINDOW_US:
        raise ValueError(
            f"abandoned_clicks: watermark delay {watermark!r} exceeds the "
            f"1 h abandon window; the purchase-retention eviction bound "
            f"(see _abandon) requires delay <= window"
        )
    ev = events.withWatermark("ts", watermark).select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "ts",
    )
    return (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            _abandon,
            outputStructType=ABANDON_OUTPUT_SCHEMA,
            stateStructType=ABANDON_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
