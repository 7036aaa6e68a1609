"""Scalar-function and set-operation surface breadth: string functions,
date/time functions, null-handling, and INTERSECT/EXCEPT — each
expression chosen to be semantically identical in Spark and DuckDB
(verified by the hash gate)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec
from ..sources.tables import load_table
from .registry import register


@register(
    "part_string_functions",
    oracle="""
SELECT p_partkey,
       upper(p_brand)                                   AS brand_upper,
       lower(p_type)                                    AS type_lower,
       substr(p_name, 1, 8)                             AS name_prefix,
       length(p_name)                                   AS name_len,
       concat(p_brand, ':', p_type)                     AS brand_type,
       replace(p_brand, 'Brand#', 'B')                  AS brand_short,
       lpad(CAST(p_size AS VARCHAR), 4, '0')            AS size_padded,
       (p_type LIKE '%PROMO%')                          AS is_promo,
       coalesce(p_size, -1)                             AS size_or_default,
       nullif(p_size, 0)                                AS size_nullable
FROM part
""",
    doc=(
        "String/null-function surface: upper, lower, substring, "
        "length, concat, replace, lpad, LIKE, coalesce, nullif — all "
        "JVM built-ins, pure projection, no shuffle."
    ),
    tags=("functions", "string", "projection"),
)
def q_part_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit("B")).alias("brand_short"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.col("p_type").like("%PROMO%").alias("is_promo"),
        F.coalesce(F.col("p_size"), F.lit(-1)).alias("size_or_default"),
        F.nullif(F.col("p_size"), F.lit(0)).alias("size_nullable"),
    )


@register(
    "orders_by_month",
    oracle="""
SELECT CAST(year(o_orderdate) AS INTEGER)  AS order_year,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       date_trunc('month', o_orderdate)    AS month_start,
       COUNT(*)                            AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY 1, 2, 3
""",
    doc=(
        "Date/time function surface: year, month, date_trunc grouped "
        "aggregation over orders (decimal-exact sums)."
    ),
    tags=("functions", "datetime", "aggregates"),
)
def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(dec("o_totalprice", "decimal(14,2)")).cast("double").alias("total_price"),
        )
    )


@register(
    "embedding_array_ops",
    oracle="""
SELECT vec_id,
       len(embedding)                                   AS dim,
       CAST(embedding[1] AS DOUBLE)                     AS first_component,
       CAST(embedding[64] AS DOUBLE)                    AS last_component,
       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[]))) AS l2_norm,
       label                                            AS label
FROM embeddings
""",
    doc=(
        "Array-function surface over the embedding column: size, "
        "element_at, and an L2 norm via the sequential fold (verified "
        "bit-identical to DuckDB list_dot_product). Pure projection."
    ),
    tags=("functions", "array", "projection"),
)
def q_embedding_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(e, e, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at(e, 1).alias("first_component"),
        F.element_at(e, 64).alias("last_component"),
        F.sqrt(dot).alias("l2_norm"),
        "label",
    )


@register(
    "value_percentiles_by_type",
    oracle=None,  # approximate sketch; tolerance-tested in pytest
    doc=(
        "approx_percentile sketch (p50/p95/p99 of value per "
        "event_type) — the quantile-sketch family next to the HLL "
        "distinct sketch; mergeable across partitions, the 100 TB "
        "path for percentile monitoring. Tolerance-checked against "
        "exact percentiles in tests."
    ),
    tags=("aggregates", "approx", "sketch"),
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Three scalar columns, not one ARRAY column: the driver's pandas
    # canonicalizer sorts every output column and cannot sort lists.
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        *[
            F.percentile_approx("value", F.lit(p), F.lit(10000)).alias(name)
            for p, name in [(0.5, "p50"), (0.95, "p95"), (0.99, "p99")]
        ]
    )


@register(
    "clickers_also_purchasing",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
    doc="INTERSECT set operation on user key sets.",
    tags=("set-ops",),
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("user_id")
    buys = events.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


@register(
    "clickers_never_erroring",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error'
""",
    doc="EXCEPT set operation on user key sets.",
    tags=("set-ops",),
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("user_id")
    errs = events.filter(F.col("event_type") == "error").select("user_id")
    # subtract == EXCEPT DISTINCT (exceptAll would keep bag-count
    # leftovers and diverge from SQL EXCEPT)
    return clicks.subtract(errs)


@register(
    "user_running_totals",
    oracle="""
SELECT event_id, user_id, ts, value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_value,
       COUNT(*) OVER w                                          AS running_n
FROM events
WINDOW w AS (
    PARTITION BY user_id
    ORDER BY ts, event_id, value, props
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    doc=(
        "Running cumulative SUM/COUNT per user over event time — the "
        "ROWS-frame window surface (distinct from the rank/lag surface "
        "already covered). Decimal accumulation for cross-engine "
        "exactness; the ORDER BY is a total order (ts, event_id, "
        "value, props) so frames are deterministic even for duplicate "
        "ids. One shuffle on user_id + partition-local sort; at 100 TB "
        "this is the standard sessionization/cumulative shape — no "
        "self-join, no driver state."
    ),
    tags=("window-function", "frame", "running-aggregate"),
)
def q_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id", "value", "props")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.sum(dec("value", "decimal(18,2)")).over(w).cast("double").alias("running_value"),
        F.count("*").over(w).alias("running_n"),
    )


@register(
    "value_percentiles_exact",
    oracle="""
SELECT event_type,
       floor(quantile_cont(value, 0.25) * 1000000 + 0.5) / 1000000 AS p25,
       floor(quantile_cont(value, 0.50) * 1000000 + 0.5) / 1000000 AS p50,
       floor(quantile_cont(value, 0.75) * 1000000 + 0.5) / 1000000 AS p75,
       floor(quantile_cont(value, 0.95) * 1000000 + 0.5) / 1000000 AS p95
FROM events
GROUP BY event_type
""",
    doc=(
        "Exact linear-interpolated percentiles per event_type — the "
        "exact counterpart to the approx_percentile sketch query "
        "(value_percentiles_by_type, rows-only). Spark percentile() "
        "and DuckDB quantile_cont share the index = p*(n-1) linear "
        "interpolation definition; ROUND(6) absorbs last-ulp noise. "
        "Exact percentiles sort each group's values in state — the "
        "scale path at 100 TB is the sketch variant; this is the "
        "correctness baseline."
    ),
    tags=("aggregates", "percentile", "exact"),
)
def q_value_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            (F.floor(F.percentile("value", F.lit(p)) * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(name)
            for p, name in [(0.25, "p25"), (0.50, "p50"), (0.75, "p75"), (0.95, "p95")]
        ]
    )


@register(
    "activity_union_all",
    oracle="""
SELECT 'click' AS src, event_id, user_id, value FROM events WHERE event_type = 'click'
UNION ALL
SELECT 'purchase' AS src, event_id, user_id, value FROM events WHERE event_type = 'purchase'
""",
    doc=(
        "UNION ALL with a source-tag literal — completes the set-op "
        "surface (INTERSECT/EXCEPT are covered by the clickers_* "
        "queries). Catalyst plans a Union of two pushed-down scans; no "
        "shuffle, no dedup pass (that would be UNION DISTINCT)."
    ),
    tags=("set-ops", "union"),
)
def q_activity_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pick = lambda t: ev.filter(F.col("event_type") == t).select(  # noqa: E731
        F.lit(t).alias("src"), "event_id", "user_id", "value"
    )
    return pick("click").unionAll(pick("purchase"))


@register(
    "grouping_sets_engagement",
    oracle="""
SELECT event_type, device,
       GROUPING(event_type) AS g_type, GROUPING(device) AS g_device,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM (SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'mobile' ELSE 'web' END AS device,
             value
      FROM events)
GROUP BY GROUPING SETS ((event_type), (device), ())
""",
    doc=(
        "Explicit GROUPING SETS ((a),(b),()) with GROUPING() null "
        "markers — the surface cube/rollup don't cover (arbitrary set "
        "lists), via the spark.sql front door. The synthetic device "
        "column stands in for the reference's device field "
        "(src/process.py:169) which the fixtures don't carry. One "
        "Expand(3) + hash agg; at 100 TB grouping-set expansion "
        "multiplies pre-agg rows by the set count, so the map-side "
        "combine is what keeps the shuffle bounded."
    ),
    tags=("grouping-sets", "aggregates", "sql"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
SELECT event_type, device,
       GROUPING(event_type) AS g_type, GROUPING(device) AS g_device,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM (SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'mobile' ELSE 'web' END AS device,
             value
      FROM events)
GROUP BY GROUPING SETS ((event_type), (device), ())
"""
    )


@register(
    "minute_rollup",
    oracle="""
SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 60000000) * 60000000)
           AS minute_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc=(
        "Continuous-aggregate (hypertable-style) 1-minute rollup per "
        "event_type — the materialization tier coarser windows "
        "re-aggregate from instead of rescanning raw events (decimal "
        "sums are associative, so re-aggregation is lossless; "
        "tests/test_plans.py::test_rollup_reuse_two_tier_aggregation "
        "proves the identity). At 100 TB this is the difference "
        "between dashboards scanning 100 TB and scanning the ~0.1% "
        "rollup."
    ),
    bench=False,
    tags=("rollup", "continuous-aggregate", "window-agg", "aggregates"),
)
def q_minute_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    minute = F.timestamp_micros(
        F.expr("unix_micros(ts) DIV 60000000") * 60000000
    ).alias("minute_start")
    return ev.groupBy(minute, "event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec("value", "decimal(18,2)")).cast("double").alias("sum_value"),
    )


@register(
    "hll_user_reach",
    oracle=None,  # sketch estimates; tolerance-tested vs exact in pytest
    doc=(
        "HLL sketch surface (Apache DataSketches via Spark 4 "
        "hll_sketch_agg): per-event-type user-reach sketches plus the "
        "deduplicated total via hll_union_agg — the mergeable-sketch "
        "pattern that lets 1000 executors compute global distincts "
        "with constant-size state instead of a count_distinct shuffle "
        "of every key. Estimates are tolerance-tested against exact "
        "count_distinct in tests/test_llm_ops.py."
    ),
    tags=("aggregates", "approx", "sketch", "hll"),
)
def q_hll_user_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    est = per_type.select(
        "event_type", F.hll_sketch_estimate("sk").alias("est_users")
    )
    total = per_type.agg(F.hll_union_agg("sk").alias("u")).select(
        F.lit("__total__").alias("event_type"),
        F.hll_sketch_estimate("u").alias("est_users"),
    )
    return est.unionAll(total)


@register(
    "user_value_ranking",
    oracle="""
SELECT user_id, total_value,
       ntile(4)       OVER w AS quartile,
       floor(percent_rank() OVER w * 1000000000 + 0.5) / 1000000000 AS pct_rank,
       floor(cume_dist()    OVER w * 1000000000 + 0.5) / 1000000000 AS cume
FROM (
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
)
WINDOW w AS (ORDER BY total_value DESC, user_id ASC)
""",
    doc=(
        "Distribution-ranking surface: ntile quartiles, percent_rank, "
        "cume_dist over per-user engagement totals — completes the "
        "OVER-clause family beside row_number/rank/lag/frames. The "
        "ORDER BY (exact decimal total desc, user_id) is a total "
        "order, so every rank is deterministic. Unpartitioned global "
        "ranking collapses to one task by construction; at 100 TB the "
        "pattern is rank-within-partition (see top_users_per_type) or "
        "approx quantiles (value_percentiles_by_type) — this query is "
        "the semantic surface, sized to a post-aggregation relation "
        "(|users|, not |events|)."
    ),
    tags=("window-function", "ntile", "ranking"),
)
def q_user_value_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(
        F.sum(dec("value", "decimal(18,2)")).cast("double").alias("total_value")
    )
    w = Window.orderBy(F.col("total_value").desc(), F.col("user_id").asc())
    return totals.select(
        "user_id",
        "total_value",
        F.ntile(4).over(w).alias("quartile"),
        (F.floor(F.percent_rank().over(w) * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000).alias("pct_rank"),
        (F.floor(F.cume_dist().over(w) * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000).alias("cume"),
    )


@register(
    "minute_rollup_gapfill",
    oracle="""
WITH per_min AS (
    SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 60000000) * 60000000)
               AS minute_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(minute_start) AS lo, max(minute_start) AS hi FROM per_min),
spine AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS minute_start
    FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events)
SELECT s.minute_start AS minute_start,
       t.event_type   AS event_type,
       COALESCE(p.n, 0)          AS n,
       COALESCE(p.sum_value, 0.0) AS sum_value,
       last_value(p.sum_value IGNORE NULLS)
           OVER (PARTITION BY t.event_type ORDER BY s.minute_start) AS locf_value
FROM spine s
CROSS JOIN types t
LEFT JOIN per_min p
       ON p.minute_start = s.minute_start AND p.event_type = t.event_type
""",
    doc=(
        "Timescale-style gap-filled rollup: the 1-minute per-type "
        "rollup joined onto a dense minute spine (sequence + explode "
        "of the observed [min,max] range x distinct types), with "
        "zero-fill counts and last-observation-carried-forward values "
        "(last(ignorenulls) over the per-type time order). The spine "
        "is generated from a 1-row bounds aggregate, so it is tiny "
        "and broadcast; the only real shuffle is the rollup itself. "
        "At 100 TB the spine stays minutes-sized (days x 1440) while "
        "the fact side is pre-aggregated before the join - gap-fill "
        "cost is O(spine), not O(events). LOCF window partitions by "
        "type, so state is one value per type - no skew."
    ),
    tags=("rollup", "gapfill", "time-series", "window-function", "locf"),
)
def q_minute_rollup_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    minute = F.timestamp_micros(
        F.expr("unix_micros(ts) DIV 60000000") * 60000000
    ).alias("minute_start")
    per_min = ev.groupBy(minute, "event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec("value", "decimal(18,2)")).cast("double").alias("sum_value"),
    )
    bounds = per_min.agg(
        F.min("minute_start").alias("lo"), F.max("minute_start").alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 minute"))
        ).alias("minute_start")
    )
    types = ev.select("event_type").distinct()
    dense = F.broadcast(spine).crossJoin(F.broadcast(types))
    w = Window.partitionBy("event_type").orderBy("minute_start")
    return (
        dense.join(per_min, ["minute_start", "event_type"], "left")
        .select(
            "minute_start",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
            F.last(F.col("sum_value"), ignorenulls=True).over(w).alias("locf_value"),
        )
    )


@register(
    "event_stats_unpivot",
    oracle="""
WITH wide AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE)                            AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)   AS sum_value,
           CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE)   AS min_value,
           CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE)   AS max_value
    FROM events GROUP BY event_type
)
SELECT event_type, 'n_events'  AS metric, n_events  AS metric_value FROM wide
UNION ALL
SELECT event_type, 'sum_value' AS metric, sum_value AS metric_value FROM wide
UNION ALL
SELECT event_type, 'min_value' AS metric, min_value AS metric_value FROM wide
UNION ALL
SELECT event_type, 'max_value' AS metric, max_value AS metric_value FROM wide
""",
    doc=(
        "UNPIVOT (wide->long) via stack(): per-type aggregate row "
        "melted into (metric, metric_value) pairs — the inverse of "
        "daily_event_pivot, completing the reshape pair. stack() is a "
        "Generate (projection-time row fan-out, partition-preserving, "
        "no shuffle beyond the aggregation itself); the oracle "
        "expresses the same melt as UNION ALL, which DuckDB and "
        "Spark both fold to the identical long relation. At 100 TB "
        "the unpivot runs on the aggregated relation (|types| rows), "
        "never the raw events."
    ),
    tags=("unpivot", "stack", "reshape", "aggregates"),
)
def q_event_stats_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n_events"),
        F.sum(dec("value", "decimal(18,2)")).cast("double").alias("sum_value"),
        F.min(dec("value", "decimal(18,2)")).cast("double").alias("min_value"),
        F.max(dec("value", "decimal(18,2)")).cast("double").alias("max_value"),
    )
    return wide.select(
        "event_type",
        F.expr(
            "stack(4, 'n_events', n_events, 'sum_value', sum_value, "
            "'min_value', min_value, 'max_value', max_value) "
            "AS (metric, metric_value)"
        ),
    )


@register(
    "user_first_last_event",
    oracle="""
SELECT DISTINCT user_id,
       first_value(event_type) OVER w                    AS first_type,
       last_value(event_type)  OVER w_full               AS last_type,
       nth_value(event_type, 2) OVER w_full              AS second_type,
       CAST(first_value(ts) OVER w AS TIMESTAMP)         AS first_ts,
       CAST(last_value(ts)  OVER w_full AS TIMESTAMP)    AS last_ts
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       w_full AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    doc=(
        "Per-user session bookends: first/last/second event via "
        "first_value, last_value and nth_value OVER a (ts, event_id)-"
        "ordered full frame — completing the OVER-clause value-"
        "function family beside rank/lag/frames. The (ts, event_id) "
        "compound order makes every bookend deterministic under "
        "duplicate timestamps. One shuffle on user_id; the DISTINCT "
        "collapses the per-row window output to one row per user "
        "without a second wide sort (Spark plans it as hash-"
        "aggregate over the window output)."
    ),
    tags=("window-function", "first-value", "nth-value", "sql"),
)
def q_user_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
SELECT DISTINCT user_id,
       first_value(event_type) OVER w                    AS first_type,
       last_value(event_type)  OVER w_full               AS last_type,
       nth_value(event_type, 2) OVER w_full              AS second_type,
       first_value(ts) OVER w                            AS first_ts,
       last_value(ts)  OVER w_full                       AS last_ts
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       w_full AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""
    )


@register(
    "value_histogram",
    oracle="""
SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) // 2500      AS bucket,
       CAST((CAST(floor(value * 100 + 0.5) AS BIGINT) // 2500) * 25.0 AS DOUBLE)
                                                             AS bucket_lo,
       COUNT(*)                                              AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)     AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc=(
        "Equi-width histogram (25-unit bins) over event values. The "
        "bin key is computed in integer cents (floor(value*100+0.5) "
        "DIV 2500) — float division by the bin width would misbin "
        "boundary values like 0.29 (0.29*100 = 28.999... truncates to "
        "28), so binning goes through the exact-cents path both "
        "engines compute identically. Map-side combine collapses to "
        "|bins| rows before the shuffle — histogram cost at 100 TB "
        "is the scan, not the agg."
    ),
    tags=("histogram", "aggregates", "binning"),
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "value",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT) DIV 2500").alias("bucket"),
    )
    return ev.groupBy(
        "bucket", (F.col("bucket") * 25.0).cast("double").alias("bucket_lo")
    ).agg(
        F.count("*").alias("n"),
        F.sum(dec("value", "decimal(18,2)")).cast("double").alias("sum_value"),
    )


@register(
    "value_moments_by_type",
    oracle="""
WITH moments AS (
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s2
    FROM events GROUP BY event_type
)
SELECT event_type, n,
       s1 / n                                   AS mean_value,
       (s2 - s1 * s1 / n) / (n - 1)             AS var_value,
       sqrt((s2 - s1 * s1 / n) / (n - 1))       AS stddev_value
FROM moments
""",
    doc=(
        "Sample variance / stddev per event type via exact decimal "
        "moments: SUM(value) and SUM(value^2) accumulate as decimals "
        "(order-independent — 2-decimal inputs give 4-decimal "
        "squares, exactly representable), and only the final "
        "mean/variance formula runs in double, as the identical IEEE "
        "expression in both engines. Plain stddev_samp() would NOT "
        "hash-match: its float accumulation order differs between "
        "Spark partials and DuckDB. Single map-side-combined "
        "aggregation — the moments pattern is also the mergeable "
        "form for distributed stats at 100 TB."
    ),
    tags=("statistics", "aggregates", "moments", "exactness"),
)
def q_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    moments = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec("value", "decimal(18,2)")).cast("double").alias("s1"),
        F.sum(dec("value", "decimal(12,2)") * dec("value", "decimal(12,2)"))
        .cast("double")
        .alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    var = (s2 - s1 * s1 / n) / (n - 1)
    return moments.select(
        "event_type",
        "n",
        (s1 / n).alias("mean_value"),
        var.alias("var_value"),
        F.sqrt(var).alias("stddev_value"),
    )


@register(
    "user_trailing_7d_value",
    oracle="""
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
           PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
           RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_7d_value
FROM events
""",
    doc=(
        "Time-RANGE window frame: per-user 7-day trailing value sum — "
        "the frame type ROWS frames can't express (the window extends "
        "by event-time distance, not row count; ties are frame peers). "
        "Spark's rangeBetween needs a numeric order key, so both "
        "engines order by epoch microseconds with a 604800000000 us "
        "preceding bound — identical frames by construction. Decimal "
        "accumulation keeps every trailing sum exact. One shuffle on "
        "user_id; per-partition state is the 7-day sliding set, "
        "independent of history length — the pattern survives "
        "unbounded retention at 100 TB."
    ),
    tags=("window-function", "range-frame", "time-series"),
)
def q_user_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-604_800_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(dec("value", "decimal(18,2)")).over(w).cast("double")
        .alias("trailing_7d_value"),
    )


@register(
    "user_event_type_sets",
    oracle="""
SELECT user_id,
       array_to_string(list_sort(list_distinct(list(event_type))), ',')
           AS event_types,
       len(list_distinct(list(event_type))) AS n_types
FROM events
GROUP BY user_id
""",
    doc=(
        "Array aggregation: the sorted distinct event-type set per "
        "user (collect_set + array_sort vs DuckDB list_distinct + "
        "list_sort). Set-then-sort makes the result independent of "
        "aggregation order, so an inherently order-sensitive "
        "aggregate becomes hash-matchable. One map-side-combined "
        "shuffle; per-group state is the distinct-type set, bounded "
        "by the type vocabulary."
    ),
    tags=("aggregates", "array-agg", "collect-set"),
)
def q_user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    types = F.array_sort(F.collect_set("event_type"))
    return ev.groupBy("user_id").agg(
        F.array_join(types, ",").alias("event_types"),
        F.size(types).alias("n_types"),
    )


@register(
    "lateral_top_users",
    oracle="""
SELECT t.event_type AS event_type, l.user_id AS user_id, l.total_value AS total_value
FROM (SELECT DISTINCT event_type FROM events) t,
LATERAL (
    SELECT e.user_id,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e
    WHERE e.event_type = t.event_type
    GROUP BY e.user_id
    ORDER BY SUM(CAST(e.value AS DECIMAL(18,2))) DESC, e.user_id ASC
    LIMIT 2
) l
""",
    doc=(
        "Correlated LATERAL subquery join (top-2 users per event "
        "type): the SQL-standard form of per-group top-k, planned by "
        "Catalyst's lateral-join decorrelation instead of the window-"
        "function form top_users_per_type uses — both shapes of the "
        "same capability, both hash-checked. The exact decimal sum "
        "orders the LIMIT, with user_id as tie-break, so the top-2 "
        "cut is deterministic in both engines."
    ),
    tags=("subquery", "lateral", "topk", "sql"),
)
def q_lateral_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
SELECT t.event_type AS event_type, l.user_id AS user_id, l.total_value AS total_value
FROM (SELECT DISTINCT event_type FROM events) t,
LATERAL (
    SELECT e.user_id,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e
    WHERE e.event_type = t.event_type
    GROUP BY e.user_id
    ORDER BY SUM(CAST(e.value AS DECIMAL(18,2))) DESC, e.user_id ASC
    LIMIT 2
) l
"""
    )


@register(
    "value_hour_correlation",
    oracle="""
WITH m AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(hour(CAST(ts AS TIMESTAMP))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(hour(CAST(ts AS TIMESTAMP)) AS DECIMAL(4,0))
                    * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
           CAST(SUM(hour(CAST(ts AS TIMESTAMP)) * hour(CAST(ts AS TIMESTAMP))) AS DOUBLE) AS sx2,
           CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sy2
    FROM events GROUP BY event_type
)
SELECT event_type,
       (n * sxy - sx * sy) / sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
           AS corr_value_hour
FROM m
""",
    doc=(
        "Pearson correlation (value vs hour-of-day) per event type "
        "from exact moments: the five sums accumulate as integers/"
        "decimals (order-independent, partial-agg safe), then the "
        "correlation formula runs once per group as the IDENTICAL "
        "double expression in both engines. Built-in corr() would "
        "never hash-match - its streaming covariance update is float "
        "all the way down and partial-merge order differs. hour() "
        "extraction is deterministic because load_table pins the "
        "session to UTC. Single map-side-combined aggregation; the "
        "moments are the mergeable form - this is how distributed "
        "correlation works at 100 TB (combine 6 numbers per group, "
        "not raw rows)."
    ),
    tags=("statistics", "aggregates", "moments", "date-functions"),
)
def q_value_hour_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour = F.hour("ts")
    hour_dec = hour.cast("decimal(4,0)")
    val = dec("value", "decimal(12,2)")
    m = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(hour).cast("double").alias("sx"),
        F.sum(dec("value", "decimal(18,2)")).cast("double").alias("sy"),
        F.sum(hour_dec * val).cast("double").alias("sxy"),
        F.sum(hour * hour).cast("double").alias("sx2"),
        F.sum(val * val).cast("double").alias("sy2"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sx2, sy2 = F.col("sxy"), F.col("sx2"), F.col("sy2")
    return m.select(
        "event_type",
        ((n * sxy - sx * sy) / F.sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))).alias(
            "corr_value_hour"
        ),
    )


@register(
    "user_retention_cohort",
    oracle="""
WITH activity AS (
    SELECT DISTINCT user_id,
           date_trunc('week', CAST(ts AS TIMESTAMP)) AS act_week
    FROM events
),
cohorts AS (
    SELECT user_id, act_week,
           MIN(act_week) OVER (PARTITION BY user_id) AS cohort_week
    FROM activity
)
SELECT cohort_week,
       date_diff('day', cohort_week, act_week) // 7 AS week_offset,
       COUNT(*) AS n_users
FROM cohorts
GROUP BY cohort_week, week_offset
""",
    doc=(
        "Retention cohort matrix: users grouped by first-activity "
        "week, counted in every subsequent week they return - the "
        "standard product-analytics retention triangle. The week "
        "offset is integer day arithmetic (datediff DIV 7 - never "
        "months_between(), whose fractional-day semantics differ "
        "across engines); activity is deduped to (user, week) BEFORE "
        "the cohort window so a heavy user costs one row per month, "
        "not one per event. Plan: one shuffle for the distinct, the "
        "cohort MIN rides the same user_id partitioning, and the "
        "final matrix is tiny. At 100 TB the distinct is the classic "
        "partial-agg win: week-level dedup collapses the event "
        "stream map-side."
    ),
    tags=("cohort", "window-function", "date-functions", "aggregates"),
)
def q_user_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    cohorts = activity.withColumn(
        "cohort_week", F.min("act_week").over(Window.partitionBy("user_id"))
    )
    offset = F.expr("datediff(act_week, cohort_week) DIV 7")
    return cohorts.groupBy("cohort_week", offset.alias("week_offset")).agg(
        F.count("*").alias("n_users")
    )


@register(
    "events_global_seq",
    oracle="""
SELECT event_id,
       row_number() OVER (ORDER BY ts, event_id) AS row_num
FROM events
""",
    doc=(
        "DISTRIBUTED global row numbering (operators/rank.py): exact "
        "row_number() OVER (ORDER BY ts, event_id) with no "
        "single-partition exchange — range-repartition on the total "
        "order key, partition-local sort, per-partition counts "
        "cumulated into broadcast offsets, local row_number + offset. "
        "The unpartitioned-window form collapses to ONE task; this is "
        "the form that survives a 100 TB sort, and the primitive that "
        "assigns stable sample indices to a training corpus after "
        "shuffle/filter. Plan-audited: no Exchange SinglePartition."
    ),
    tags=("ranking", "window-function", "distributed-sort", "scale"),
)
def q_events_global_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rank import global_row_number

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    return global_row_number(ev, ["ts", "event_id"]).select("event_id", "row_num")


@register(
    "click_to_purchase_latency",
    oracle="""
WITH seq AS (
    SELECT user_id, event_id, ts, event_type,
           max(CASE WHEN event_type = 'click' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS last_click_ts
    FROM events
)
SELECT user_id, event_id, ts AS purchase_ts, last_click_ts,
       CAST(epoch_us(ts) - epoch_us(last_click_ts) AS BIGINT) AS latency_us
FROM seq
WHERE event_type = 'purchase' AND last_click_ts IS NOT NULL
""",
    doc=(
        "Per-user event-SEQUENCE analytics (MATCH_RECOGNIZE-lite): for "
        "every purchase, the time since the user's most recent PRIOR "
        "click — a carry-forward max over the user's event-time-ordered "
        "stream (ROWS .. 1 PRECEDING excludes self-matches at equal "
        "timestamps). One shuffle on user_id; latency is integer "
        "microseconds, so cross-engine exact. The funnel-latency "
        "building block behind conversion attribution."
    ),
    tags=("window-function", "sequence", "funnel", "temporal"),
)
def q_click_to_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.withColumn(
        "last_click_ts",
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).over(w),
    )
    return (
        seq.filter(
            (F.col("event_type") == "purchase")
            & F.col("last_click_ts").isNotNull()
        )
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
            (F.unix_micros("ts") - F.unix_micros("last_click_ts")).alias("latency_us"),
        )
    )


@register(
    "events_anomaly_zscore",
    oracle="""
WITH m AS (
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS mean_v,
           sqrt(
               CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value)
               - pow(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value), 2)
           ) AS std_v
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
)
SELECT e.event_id AS event_id, e.event_type AS event_type, e.value AS value,
       floor((e.value - mean_v) / std_v * 1000000 + 0.5) / 1000000 AS zscore
FROM events e JOIN m ON e.event_type = m.event_type
WHERE e.value IS NOT NULL
  AND abs((e.value - mean_v) / std_v) > 2.5
""",
    doc=(
        "Outlier flagging for data-quality triage: per-type z-scores "
        "from EXACT decimal moments (sum and sum-of-squares aggregate "
        "exactly, so mean/std are bit-stable across engines and "
        "partitionings), broadcast back onto the stream, |z| > 2.5 "
        "flagged. The filter-the-garbage step a training-data pipeline "
        "runs before aggregation; zscore floor-rounded to 1e-6 for "
        "cross-engine hash stability."
    ),
    tags=("aggregates", "data-quality", "anomaly", "broadcast"),
)
def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d = dec("value", "decimal(18,2)")
    m = ev.groupBy("event_type").agg(
        (F.sum(d).cast("double") / F.count("value")).alias("mean_v"),
        F.sqrt(
            F.sum(d * d).cast("double") / F.count("value")
            - F.pow(F.sum(d).cast("double") / F.count("value"), F.lit(2))
        ).alias("std_v"),
    )
    z = (F.col("value") - F.col("mean_v")) / F.col("std_v")
    return (
        ev.join(F.broadcast(m), "event_type")
        .filter(F.abs(z) > 2.5)
        .select(
            "event_id",
            "event_type",
            "value",
            (F.floor(z * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("zscore"),
        )
    )


@register(
    "user_activity_reconciliation",
    oracle="""
SELECT COALESCE(e.user_id, o.o_custkey) AS user_id,
       e.n_events  AS n_events,
       o.n_orders  AS n_orders,
       CASE WHEN e.user_id IS NULL THEN 'orders_only'
            WHEN o.o_custkey IS NULL THEN 'events_only'
            ELSE 'both' END AS presence
FROM (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1) e
FULL OUTER JOIN
     (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1) o
ON e.user_id = o.o_custkey
""",
    doc=(
        "FULL OUTER join reconciliation — the one outer-join shape the "
        "surface lacked: per-key activity from two systems stitched "
        "with COALESCE and a presence tag (events-only / orders-only / "
        "both), the cross-system audit every warehouse runs. Both "
        "sides pre-aggregate before the join, so the full-outer "
        "shuffle carries |keys|, not |rows|."
    ),
    tags=("join", "full-outer", "reconciliation", "aggregates"),
)
def q_user_activity_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    joined = ev.join(orders, ev["user_id"] == orders["o_custkey"], "full")
    return joined.select(
        F.coalesce(ev["user_id"], orders["o_custkey"]).alias("user_id"),
        "n_events",
        "n_orders",
        F.when(ev["user_id"].isNull(), "orders_only")
        .when(orders["o_custkey"].isNull(), "events_only")
        .otherwise("both")
        .alias("presence"),
    )


@register(
    "value_trimmed_mean",
    oracle="""
WITH ranked AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
           count(*)    OVER (PARTITION BY event_type) AS n
    FROM events
    WHERE value IS NOT NULL
)
SELECT event_type,
       CAST(SUM(CAST(CASE WHEN value >= 0 THEN floor(value * 100 + 0.5)
                          ELSE -floor(-value * 100 + 0.5) END AS BIGINT)) AS DOUBLE)
           / (100.0 * count(*))                           AS trimmed_mean,
       count(*)                                           AS n_kept
FROM ranked
WHERE rn > n // 10 AND rn <= n - n // 10
GROUP BY event_type
""",
    doc=(
        "Custom vectorized UDAF surface (GROUPED_AGG pandas_udf): 10% "
        "two-sided trimmed mean of value per event_type — the "
        "robust-statistic shape that has no built-in aggregate. The "
        "UDF receives each group's values as ONE Arrow-backed Series "
        "(never row-at-a-time) and reduces in integer cents, so the "
        "result is bit-identical to the oracle's decimal-cent window "
        "formulation: trimming by sorted rank keeps the same value "
        "multiset regardless of tie order. Partial aggregation does "
        "not apply to grouped-agg UDFs — state is one group's column, "
        "the documented trade for arbitrary-python aggregates."
    ),
    tags=("aggregates", "pandas-udf", "udaf", "robust-stats"),
)
def q_value_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udafs import trimmed_count, trimmed_mean_2dec

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        trimmed_mean_2dec("value").alias("trimmed_mean"),
        trimmed_count("value").alias("n_kept"),
    )


@register(
    "events_salted_sum",
    oracle="""
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       COUNT(*)                                          AS n_events
FROM events
GROUP BY 1
""",
    doc=(
        "Skew-resistant hot-key aggregation (operators/skew.py): the "
        "grouped SUM/COUNT runs as two phases — groupBy(key, salt) "
        "spreads each hot key over n_salts reducers, then groupBy(key) "
        "re-reduces the n_salts partials. The salt is a deterministic "
        "hash of the measure (never rand(), so retries are "
        "idempotent), and the decimal routing makes both phases exact "
        "and associative — the oracle is the plain one-phase SQL "
        "aggregation, hash-matched. Scope honestly measured "
        "(BASELINE.md 'Round-6 skew probe', 10M rows, 50%-hot key; "
        "`git show 0dbd1ad:tools/skew_probe.py`): for ALGEBRAIC "
        "aggregates like this SUM/COUNT, map-side partial aggregation "
        "already collapses the hot key to one row per map task, so "
        "naive beats salted (0.67 vs 0.91 s) — salting's real domain "
        "is non-combinable aggregation state (collect_list, exact "
        "distinct buffers, percentile sketches built per key), "
        "partial-agg-ineffective high-cardinality maps, and joins "
        "(salted_join / AQE skew-join). Registered to pin the "
        "device's exactness, with its applicability documented."
    ),
    tags=("aggregates", "skew", "salting"),
)
def q_events_salted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_sum

    return salted_sum(load_table(spark, sf_dir, "events"), "event_type", "value")


@register(
    "user_rfm_scores",
    oracle="""
WITH agg AS (
  SELECT user_id,
         max(ts)                                            AS last_ts,
         count(*)                                           AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)  AS total_value
  FROM events
  GROUP BY user_id
)
SELECT user_id, last_ts, n_events, total_value,
       ntile(5) OVER (ORDER BY last_ts, user_id)      AS r_score,
       ntile(5) OVER (ORDER BY n_events, user_id)     AS f_score,
       ntile(5) OVER (ORDER BY total_value, user_id)  AS m_score
FROM agg
""",
    doc=(
        "RFM (recency/frequency/monetary) quintile segmentation per "
        "user — the canonical behavioral scoring reshape: one keyed "
        "aggregation, then three ntile(5) windows over total orders "
        "(metric, user_id — the tiebreak is what makes quintile "
        "membership deterministic and engine-exact). The decimal "
        "routing keeps the monetary sum exact. The user-level "
        "aggregate is keyspace-sized, so the rank windows run on a "
        "frame orders of magnitude smaller than the input; for a "
        "keyspace too big to window, the distributed global_row_number "
        "primitive is the drop-in (same contract, no SinglePartition)."
    ),
    tags=("window", "ntile", "behavioral", "aggregates"),
)
def q_user_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("total_value"),
    )
    return agg.select(
        "user_id",
        "last_ts",
        "n_events",
        "total_value",
        F.ntile(5).over(Window.orderBy("last_ts", "user_id")).alias("r_score"),
        F.ntile(5).over(Window.orderBy("n_events", "user_id")).alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy("total_value", "user_id"))
        .alias("m_score"),
    )


@register(
    "parts_bought_together",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, count(*) AS n_orders
FROM pairs
GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a ASC, part_b ASC
LIMIT 20
""",
    doc=(
        "Market-basket co-occurrence: the top part pairs appearing in "
        "the same order — the association-mining primitive behind "
        "'frequently bought together'. The pair expansion is a "
        "WITHIN-GROUP self-join on the order key: quadratic only in "
        "the per-order item count (~7 for this schema), never across "
        "orders, so at 100 TB the cost is (items/order)^2 x orders — "
        "linear in the data. One distinct pass, one orderkey-bucketed "
        "equi-join, one pair aggregation, TakeOrderedAndProject "
        "top-k."
    ),
    tags=("join", "association", "topk"),
)
def q_parts_bought_together(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(
            F.col("n_orders").desc(),
            F.col("part_a").asc(),
            F.col("part_b").asc(),
        )
        .limit(20)
    )


@register(
    "user_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type,
       event_type AS next_type,
       count(*) AS n_transitions,
       CAST(count(*) AS DOUBLE)
         / sum(count(*)) OVER (PARTITION BY prev_type) AS prob
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
    doc=(
        "Per-user event-type transition matrix (first-order Markov "
        "estimate): lag over the total per-user (ts, event_id) order "
        "pairs each event with its predecessor, grouped into "
        "transition counts and row-normalized into probabilities — "
        "the behavioral-model / anomalous-sequence primitive. Plan: "
        "one user-keyed shuffle for the lag window, one tiny "
        "(type x type) aggregation; the normalizing window runs on "
        "k^2 rows (metadata). n/sum(n) is an exact-integer ratio, so "
        "the probabilities are engine-exact."
    ),
    tags=("window", "sequence", "markov", "behavioral"),
)
def q_user_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    norm = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(norm)
        ).alias("prob"),
    )


@register(
    "events_salted_join",
    oracle="""
SELECT e.event_id     AS event_id,
       e.event_type   AS event_type,
       e.value        AS value,
       c.c_name       AS user_name,
       c.c_mktsegment AS user_segment
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
""",
    doc=(
        "Skew-resistant shuffled equi-join (operators/skew.py "
        "salted_join): the customer dimension is replicated once per "
        "salt, each fact row gets a deterministic intra-row-hash salt, "
        "and the join runs SHUFFLE_HASH on (user_id, salt) — a viral "
        "user's rows spread over n_salts tasks instead of one. The "
        "broadcast path is deliberately disabled (a broadcast join "
        "has no skew problem; this is the mitigation for dimensions "
        "too big to broadcast). Semantics unchanged: the oracle is "
        "the plain equi-join, hash-matched. Plan pinned in "
        "tests/test_skew.py: ShuffledHashJoin keyed by (user_id, "
        "__salt), no BroadcastHashJoin."
    ),
    tags=("join", "skew", "salting"),
)
def q_events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return salted_join(events, cust, "user_id", "c_custkey", "event_id").select(
        "event_id",
        "event_type",
        "value",
        F.col("c_name").alias("user_name"),
        F.col("c_mktsegment").alias("user_segment"),
    )
