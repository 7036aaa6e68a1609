"""Event-time window aggregations (SURVEY.md §2.6/§2.9: A1, T3).

The reference's second query is a sliding-window SUM —
``GROUP BY content_id, HOP(proc_time, INTERVAL '5' SECOND, INTERVAL
'10' MINUTE)`` (reference src/process.py:196-204). We keep the exact
HOP parameters but aggregate on *event time* (deterministic and
oracle-checkable; the reference's processing-time results are
irreproducible — SURVEY.md §4.3 documents the deliberate deviation).

Scale design (the 120× trap): each event belongs to size/slide = 120
overlapping windows, so the exploded relation is 120× the fact table.
The only safe plan is to project down to (ts, key, measure) *before*
the window explode so the wide columns never multiply, and to let the
partial (map-side) aggregation collapse rows before the shuffle.
``F.window`` + ``groupBy`` does exactly that: Catalyst plans
Expand(120) -> partial HashAggregate -> shuffle by (window, key) ->
final HashAggregate, and AQE right-sizes the shuffle. Nothing is
materialized wide.

Sums are exact and order-independent: the HOP path accumulates integer
cents (LongType — primitive vectorized-hash fast path, bit-identical
double output; see hop_engagement_sum), tumbling_stats goes through
DECIMAL (functions/exact.py). Either way results are hash-stable
across engines and reruns.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import dec

HOP_SIZE = "10 minutes"
HOP_SLIDE = "5 seconds"


_INTERVAL_UNIT_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 604_800_000_000,
}


def parse_interval_us(interval: str) -> int:
    """Parse an interval string ('10 seconds', '1 hour 30 minutes') to
    microseconds — the subset of Spark's CalendarInterval grammar that
    window sizes and watermark delays accept.

    The WHOLE string must match: an unanchored findall silently
    misparsed decimal delays ('90.5 minutes' -> 5 minutes), so a guard
    downstream could mis-evaluate a string Spark itself might accept
    differently — anything with leftover characters (a '.', a stray
    token) is rejected loudly instead."""
    m = re.fullmatch(r"\s*(?:\d+\s*[a-zA-Z]+\s*)+", interval)
    if m is None:
        raise ValueError(
            f"unparseable interval {interval!r}: expected one or "
            "more '<integer> <unit>' terms (decimals and other tokens "
            "are rejected rather than silently dropped)"
        )
    total = 0
    for num, unit in re.findall(r"(\d+)\s*([a-zA-Z]+)", interval):
        unit = unit.lower().rstrip("s")
        if unit not in _INTERVAL_UNIT_US:
            raise ValueError(f"unrecognized interval unit {unit!r} in {interval!r}")
        total += int(num) * _INTERVAL_UNIT_US[unit]
    return total


def hop_engagement_sum(
    events: DataFrame,
    key: str = "user_id",
    measure: str = "value",
    size: str = HOP_SIZE,
    slide: str = HOP_SLIDE,
) -> DataFrame:
    """Sliding-window SUM of the engagement measure per key (A1).

    Mirrors reference src/process.py:196-204 with event time — as a
    **two-phase** aggregation:

    1. pre-aggregate per (slide bucket, key): every event in the same
       5 s slide belongs to the *identical* 120 windows, so summing
       within the bucket first is lossless (integer cent sums are
       exact and associative). That holds only when ``size`` is a
       multiple of ``slide``; any other pair raises ValueError;
    2. window the slide buckets: ``F.window(slide_start, size, slide)``
       then re-sum.

    At 100 TB this is the difference between exploding every event
    120x and exploding one row per (slide, key) 120x — a reduction
    equal to the per-bucket event multiplicity (often 1000x at real
    event rates).

    Shuffle plan: ONE exchange, of the *pre-explode* rows. The input
    is hash-partitioned by the key alone; HashPartitioning(key)
    satisfies the clustered distribution of both groupBys (key is a
    subset of each grouping). Phase 2 explodes the 120 window offsets
    with ``explode(sequence(...))`` rather than ``F.window`` — the
    Expand operator behind F.window reports UnknownPartitioning and
    would force a 120x-sized exchange, while Generate preserves the
    child partitioning, so the multiplied rows never cross the wire
    and the final aggregation is a single partition-local pass.
    (Caveat: one viscerally hot key concentrates under key-only
    partitioning; for power-law keys drop the repartition and accept
    the (window, key) shuffle, or salt via operators/skew.py.)
    """
    size_us = parse_interval_us(size)
    slide_us = parse_interval_us(slide)
    if size_us % slide_us:
        raise ValueError("size must be a multiple of slide")
    sc = events.sparkSession.sparkContext
    # Aggregate integer *cents*, not DECIMAL: Spark's vectorized hash
    # aggregate has a primitive fast path for LongType that decimals
    # don't get (measured 2x end-to-end on this query at sf0.1), and
    # exactness survives — the cent sum is < 2^53 so its double cast is
    # exact, and IEEE division by 100.0 rounds the exact rational
    # cents/100 to nearest, which is bit-identical to casting the exact
    # DECIMAL(.,2) sum to double (what the DuckDB oracle computes).
    # Sign-aware half-away-from-zero cent rounding: floor(x*100+0.5)
    # alone rounds half toward +inf, which diverges from the oracle's
    # DECIMAL(18,2) cast on negative exact-half-cent values; wrapping
    # the magnitude keeps both signs on the DECIMAL convention.
    cents = (
        F.signum(F.col(measure))
        * F.floor(F.abs(F.col(measure)) * 100 + F.lit(0.5))
    ).cast("bigint")
    narrow = events.select(key, "ts", cents.alias("v")).repartition(
        sc.defaultParallelism, F.col(key)
    )
    slide_start_us = F.expr(f"unix_micros(ts) DIV {slide_us}") * slide_us
    per_slide = (
        narrow.groupBy(slide_start_us.alias("slide_us"), key)
        .agg(F.sum("v").alias("v"))
    )
    offs = F.sequence(F.lit(0), F.lit(size_us - slide_us), F.lit(slide_us))
    exploded = per_slide.select(
        key, "v", "slide_us", F.explode(offs).alias("off")
    ).select(
        key,
        "v",
        F.timestamp_micros(F.col("slide_us") - F.col("off")).alias("window_start"),
    )
    return (
        exploded.groupBy("window_start", key)
        .agg((F.sum("v").cast("double") / F.lit(100.0)).alias("engagement_sum"))
        .select(
            "window_start",
            (
                F.timestamp_micros(F.unix_micros("window_start") + size_us)
            ).alias("window_end"),
            key,
            "engagement_sum",
        )
    )


def tumbling_stats(
    events: DataFrame,
    key: str = "event_type",
    measure: str = "value",
    size: str = HOP_SIZE,
) -> DataFrame:
    """Tumbling-window COUNT/SUM/AVG/MIN/MAX per (window, key) — the
    extended aggregate surface (SURVEY.md §7 Phase 1 item 8).

    AVG is written as SUM(decimal)/COUNT so both engines evaluate the
    identical double expression.
    """
    narrow = events.select(key, "ts", F.col(measure).alias("m"), dec(measure).alias("v"))
    return (
        narrow.groupBy(F.window("ts", size), key)
        .agg(
            F.count("*").alias("n_events"),
            F.sum("v").cast("double").alias("sum_value"),
            (F.sum("v").cast("double") / F.count("m")).alias("avg_value"),
            F.min("m").alias("min_value"),
            F.max("m").alias("max_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            key,
            "n_events",
            "sum_value",
            "avg_value",
            "min_value",
            "max_value",
        )
    )


def hop_oracle_sql(
    key: str = "user_id",
    measure: str = "value",
    size_s: int = 600,
    slide_s: int = 5,
) -> str:
    """DuckDB equivalent of Spark's epoch-aligned sliding window: an
    event at t belongs to the 120 windows starting at
    floor(t/slide)*slide - k*slide for k in [0, size/slide)."""
    return f"""
WITH exploded AS (
    SELECT
        make_timestamp(
            (epoch_us(CAST(e.ts AS TIMESTAMP)) // {slide_s * 1_000_000})
                * {slide_s * 1_000_000} - o.off * 1000000
        ) AS window_start,
        e.{key} AS {key},
        CAST(e.{measure} AS DECIMAL(18,2)) AS v
    FROM events e
    CROSS JOIN (SELECT unnest(range(0, {size_s}, {slide_s})) AS off) o
)
SELECT
    window_start,
    window_start + INTERVAL {size_s} SECOND AS window_end,
    {key},
    CAST(SUM(v) AS DOUBLE) AS engagement_sum
FROM exploded
GROUP BY window_start, {key}
"""


def tumbling_oracle_sql(
    key: str = "event_type", measure: str = "value", size_s: int = 600
) -> str:
    us = size_s * 1_000_000
    return f"""
SELECT
    make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // {us}) * {us}) AS window_start,
    {key},
    COUNT(*) AS n_events,
    CAST(SUM(CAST({measure} AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
    CAST(SUM(CAST({measure} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({measure}) AS avg_value,
    MIN({measure}) AS min_value,
    MAX({measure}) AS max_value
FROM events
GROUP BY 1, 2
"""


CUMULATE_MAX = "10 minutes"
CUMULATE_STEP = "2 minutes"


def cumulate_engagement_sum(
    events: DataFrame,
    key: str = "user_id",
    measure: str = "value",
    max_size: str = CUMULATE_MAX,
    step: str = CUMULATE_STEP,
) -> DataFrame:
    """Flink's CUMULATE window TVF (FLIP-145), completing the window
    family (TUMBLE = hop with slide==size, HOP, SESSION, CUMULATE):
    within each max-size span, expanding windows [span_start,
    span_start + j*step) for j = 1..max/step emit early cumulative
    results — the "dashboard counts since the hour started, refreshed
    every step" query that HOP over-counts and TUMBLE delivers late.

    Same two-phase shape as hop_engagement_sum: pre-aggregate integer
    cents per (step bucket, key) — every event in a step bucket
    belongs to the identical windows, namely all j with window end
    past the bucket, j in [(step_us mod max) div step + 1, max/step]
    — then explode only the per-bucket rows with
    ``explode(sequence(...))`` (Generate preserves the child's
    hash-by-key partitioning, so like HOP the plan carries ONE
    Exchange, of the pre-explode rows). Cent sums are exact,
    order-independent, and bit-identical to the oracle's
    DECIMAL(18,2)-sum-cast-double."""
    max_us = parse_interval_us(max_size)
    step_us = parse_interval_us(step)
    if max_us % step_us:
        raise ValueError("max_size must be a multiple of step")
    sc = events.sparkSession.sparkContext
    cents = (
        F.signum(F.col(measure))
        * F.floor(F.abs(F.col(measure)) * 100 + F.lit(0.5))
    ).cast("bigint")
    narrow = events.select(key, "ts", cents.alias("v")).repartition(
        sc.defaultParallelism, F.col(key)
    )
    bucket_start_us = F.expr(f"unix_micros(ts) DIV {step_us}") * step_us
    per_step = narrow.groupBy(bucket_start_us.alias("step_us"), key).agg(
        F.sum("v").alias("v")
    )
    exploded = per_step.select(
        key,
        "v",
        (F.col("step_us") - (F.col("step_us") % max_us)).alias("span_us"),
        F.expr(
            f"explode(sequence((step_us % {max_us}) DIV {step_us} + 1,"
            f" {max_us // step_us}))"
        ).alias("j"),
    )
    return (
        exploded.groupBy("span_us", "j", key)
        .agg((F.sum("v").cast("double") / F.lit(100.0)).alias("engagement_sum"))
        .select(
            F.timestamp_micros(F.col("span_us")).alias("window_start"),
            F.timestamp_micros(
                F.col("span_us") + F.col("j") * step_us
            ).alias("window_end"),
            key,
            "engagement_sum",
        )
    )


def cumulate_oracle_sql(
    key: str = "user_id",
    measure: str = "value",
    max_s: int = 600,
    step_s: int = 120,
) -> str:
    """DuckDB equivalent: same span/step arithmetic on epoch micros,
    DECIMAL(18,2) accumulation (bit-identical to the cent-sum double,
    see hop_engagement_sum's exactness note)."""
    max_us = max_s * 1_000_000
    step_us = step_s * 1_000_000
    return f"""
WITH b AS (
    SELECT {key},
           (epoch_us(CAST(ts AS TIMESTAMP)) // {step_us}) * {step_us}
               AS step_us,
           CAST({measure} AS DECIMAL(18,2)) AS v
    FROM events
),
x AS (
    SELECT {key}, v,
           step_us - (step_us % {max_us}) AS span_us,
           unnest(generate_series(
               CAST((step_us % {max_us}) // {step_us} + 1 AS INT),
               {max_us // step_us})) AS j
    FROM b
)
SELECT make_timestamp(span_us) AS window_start,
       make_timestamp(span_us + j * {step_us}) AS window_end,
       {key},
       CAST(SUM(v) AS DOUBLE) AS engagement_sum
FROM x
GROUP BY span_us, j, {key}
"""
