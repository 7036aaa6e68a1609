"""Round-5 extension batch: storage-layout pruning, a portable
HyperLogLog sketch with an exact cross-engine oracle, SCD2 changelog
materialization, and a bucketed co-located join.

Each query follows the house rules: JVM-side expressions only, one
oracle per query generated from the same constants as the Spark plan,
and every float that could differ across engines either quantized or
derived from a single integer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tmpdirs
from ..sources.tables import load_table
from .registry import register

# sign-aware integer-cent quantization of `value` (same device as the
# streaming stateful accumulator): exact in both engines, summable in
# any order.
_CENTS_SQL = """
CASE WHEN value IS NULL THEN 0
     WHEN value >= 0 THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
     ELSE -CAST(floor(-value * 100 + 0.5) AS BIGINT) END
"""


def _cents(col: F.Column) -> F.Column:
    return (
        F.when(col.isNull(), F.lit(0).cast("long"))
        .when(col >= 0, F.floor(col * 100 + F.lit(0.5)).cast("long"))
        .otherwise(-F.floor(-col * 100 + F.lit(0.5)).cast("long"))
    )


# ---------------------------------------------------------------------------
# partitioned write + partition-pruned re-read
# ---------------------------------------------------------------------------

@register(
    "events_partitioned_prune",
    oracle=f"""
SELECT user_id,
       count(*) AS n_events,
       CAST(sum({_CENTS_SQL}) AS BIGINT) AS total_cents
FROM events
WHERE event_type = 'click'
GROUP BY user_id
""",
    doc=(
        "Storage layout as a first-class operator: the events fixture "
        "is written PARTITIONED BY event_type (hive-style directories "
        "— at 100 TB this is the table's physical layout, written "
        "once), then re-read with an event_type predicate that must "
        "resolve at PLANNING time via partition pruning: the scan "
        "lists only the matching directory and reads none of the "
        "other partitions' files "
        "(tests/test_plans.py::test_events_partitioned_prune_plan "
        "pins PartitionFilters + a single pruned partition). The "
        "aggregate over the pruned read hash-matches the plain "
        "filtered aggregation of the source fixture, proving the "
        "partitioned round-trip is lossless. Integer-cent sums keep "
        "the aggregation order-independent."
    ),
    tags=("storage", "partitioning", "pruning"),
)
def q_events_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tmp = tmpdirs.mkdtemp(prefix="events_part_")  # outlives the plan
    out = os.path.join(tmp, "events_by_type")
    # partitionBy moves event_type into directory keys; everything else
    # stays columnar inside each partition
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    clicks = spark.read.parquet(out).filter(F.col("event_type") == "click")
    return clicks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_cents(F.col("value"))).alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# portable HyperLogLog: a cardinality sketch with an EXACT oracle
# ---------------------------------------------------------------------------

_HLL_M = 64          # registers (6 index bits)
_HLL_SCALE = 55      # 2^(SCALE - rho) integer harmonic sum; 64*2^55 < 2^63
# alpha_m * m^2 * 2^SCALE as ONE double literal shared by both dialects:
# every engine parses the same decimal literal to the same IEEE double,
# so estimate = C / S is a single identical division.
_HLL_C = 0.7213 / (1 + 1.079 / _HLL_M) * _HLL_M * _HLL_M * float(2 ** _HLL_SCALE)

# the raw-estimate SQL fragment (quantized at 1e-6), reused by the
# linear-counting branch so the two dialects cannot drift
_HLL_RAW = (
    f"floor({_HLL_C!r} / CAST(s_scaled AS DOUBLE) * 1000000 + 0.5) / 1000000"
)
# standard small-range correction: when empty registers remain and the
# raw estimate is under 2.5m, linear counting m*ln(m/V) is the accurate
# regime. ln() differs by ~1 ulp across libms, so the ln itself is
# quantized at 1e-9 BEFORE scaling (the repo-wide transcendental rule).
_HLL_ZEROS = f"({_HLL_M} - registers_used)"
_HLL_LC = (
    f"floor({_HLL_M} * (floor(ln({_HLL_M}.0 / {_HLL_ZEROS})"
    f" * 1000000000 + 0.5) / 1000000000) * 1000000 + 0.5) / 1000000"
)
_HLL_EST = (
    f"CASE WHEN {_HLL_ZEROS} > 0 AND {_HLL_RAW} <= {2.5 * _HLL_M!r}"
    f" THEN {_HLL_LC} ELSE {_HLL_RAW} END"
)


def hll_registers(ev: DataFrame, key: str = "event_type") -> DataFrame:
    """Per-(key, register) max-rho table — the mergeable partial state
    of the portable HLL (merge = groupBy(key, reg).max(m_rho), which
    stream_sketch_replay exercises across micro-batches). Extracted
    verbatim from q_hll_portable_reach."""
    ev = ev.filter(F.col("user_id").isNotNull())
    x = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    h = ev.select(key, x.alias("x"))
    b = F.bin(F.expr("x div 64"))
    r = h.select(
        key,
        (F.col("x") % _HLL_M).alias("reg"),
        (
            F.lit(1)
            + F.length(b)
            - F.length(F.expr("trim(TRAILING '0' FROM bin(x div 64))"))
        ).alias("rho"),
    )
    return r.groupBy(key, "reg").agg(F.max("rho").alias("m_rho"))


def hll_estimate(regs: DataFrame, key: str = "event_type") -> DataFrame:
    """(key, registers_used, hll_estimate) from a register table —
    the same integer-scaled harmonic sum + small-range correction as
    the SQL fragments (_HLL_RAW/_HLL_LC/_HLL_EST), token for token."""
    sketch = regs.groupBy(key).agg(
        F.count(F.lit(1)).alias("registers_used"),
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE} - m_rho)"))
            + (F.lit(_HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << _HLL_SCALE).cast("long")
        ).alias("s_scaled"),
    )
    raw = (
        F.floor(
            F.lit(_HLL_C) / F.col("s_scaled").cast("double") * 1_000_000
            + F.lit(0.5)
        )
        / 1_000_000
    )
    zeros = F.lit(_HLL_M) - F.col("registers_used")
    lnq = (
        F.floor(F.log(F.lit(float(_HLL_M)) / zeros) * 1_000_000_000 + F.lit(0.5))
        / 1_000_000_000
    )
    lc = F.floor(F.lit(_HLL_M) * lnq * 1_000_000 + F.lit(0.5)) / 1_000_000
    est = F.when(
        (zeros > 0) & (raw <= F.lit(2.5 * _HLL_M)), lc
    ).otherwise(raw)
    return sketch.select(
        key, "registers_used", est.alias("hll_estimate")
    )


@register(
    "hll_portable_reach",
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
           CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SCALE} - m_rho)) AS BIGINT)
             + ({_HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {_HLL_SCALE})
             AS s_scaled
    FROM regs GROUP BY event_type
),
exact AS (
    SELECT event_type, count(DISTINCT user_id) AS exact_distinct
    FROM events WHERE user_id IS NOT NULL GROUP BY event_type
),
est AS (
    SELECT event_type, registers_used, {_HLL_EST} AS hll_estimate
    FROM sketch
)
SELECT s.event_type AS event_type,
       s.registers_used AS registers_used,
       s.hll_estimate AS hll_estimate,
       e.exact_distinct AS exact_distinct,
       floor((s.hll_estimate / e.exact_distinct - 1.0) * 1000000 + 0.5)
           / 1000000 AS rel_err
FROM est s JOIN exact e ON s.event_type = e.event_type
""",
    doc=(
        "Portable HyperLogLog — the distinct-count sketch rebuilt from "
        "engine-portable primitives (md5 -> 48-bit int, register = "
        "x mod 64, rho = trailing zeros of x div 64 via the binary-"
        "string rtrim device) so the ENTIRE approximate pipeline "
        "hash-matches a SQL oracle, the same trick the portable "
        "MinHash family uses. The harmonic mean is the classic "
        "float-order trap: sum(2^-M_j) over registers in arbitrary "
        "order differs in the last ulp between engines — here each "
        "register contributes the EXACT integer 2^(55 - M_j), the sum "
        "is order-independent, empty registers add 2^55 each, and the "
        "single estimate division C / S happens once on one double. "
        "Exact distinct rides alongside so the sketch's relative "
        "error is part of the checked output. The standard "
        "small-range correction applies (linear counting m*ln(m/V) "
        "when empty registers remain and the raw estimate is under "
        "2.5m) with the ln() quantized at 1e-9 before scaling, so "
        "even the corrected branch is engine-exact. At "
        "100 TB the register table is 64 rows per group: the sketch "
        "is mergeable partial state, the scan never reshuffles raw "
        "ids. approx_distinct_users (rows-only) is the built-in-HLL "
        "twin; this one is driver-provable."
    ),
    tags=("sketch", "hll", "approx", "portable-oracle"),
)
def q_hll_portable_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    regs = hll_registers(ev)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        hll_estimate(regs)
        .join(exact, "event_type")
        .select(
            "event_type",
            "registers_used",
            "hll_estimate",
            "exact_distinct",
            (
                F.floor(
                    (F.col("hll_estimate") / F.col("exact_distinct") - F.lit(1.0))
                    * 1_000_000
                    + F.lit(0.5)
                )
                / 1_000_000
            ).alias("rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# SCD2 (slowly-changing-dimension type 2) changelog materialization
# ---------------------------------------------------------------------------

@register(
    "orders_scd2_history",
    oracle="""
SELECT o_custkey AS cust_key,
       o_orderkey AS version_key,
       CAST(o_totalprice AS DOUBLE) AS attr_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
       strftime(lead(o_orderdate) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           '%Y-%m-%d') AS valid_to,
       CASE WHEN lead(o_orderkey) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           IS NULL THEN 1 ELSE 0 END AS is_current
FROM orders
""",
    doc=(
        "SCD2 history materialization — the keyed-changelog-to-"
        "interval-table primitive every warehouse dimension load "
        "runs, and the batch twin of the CDC family (S1): treating "
        "each customer's orders as successive versions, every row "
        "gets [valid_from, valid_to) from its own date and the NEXT "
        "version's date (lead over the per-key sequence; orderkey "
        "breaks date ties deterministically), open-ended + flagged "
        "current for the latest. One window over the natural "
        "(cust_key, date) sort — a single hash-partitioned shuffle, "
        "no self-join (the naive formulation), no SinglePartition. "
        "Dates travel as formatted strings so both engines compare "
        "identical values."
    ),
    tags=("cdc", "scd2", "window"),
)
def q_orders_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderkey").alias("version_key"),
        F.col("o_totalprice").cast("double").alias("attr_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(
            F.lead("o_orderdate").over(w), "yyyy-MM-dd"
        ).alias("valid_to"),
        F.when(F.lead("o_orderkey").over(w).isNull(), 1)
        .otherwise(0)
        .alias("is_current"),
    )


# ---------------------------------------------------------------------------
# bucketed co-located join
# ---------------------------------------------------------------------------

@register(
    "lineitem_bucketed_join",
    oracle="""
SELECT o.o_orderpriority AS o_orderpriority,
       count(*) AS n_items,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
    doc=(
        "Bucketed co-located join — the zero-shuffle join strategy for "
        "repeatedly-joined 100 TB fact tables: orders and lineitem are "
        "written ONCE as tables bucketed 8 ways on the join key "
        "(sorted within buckets), and the join then reads bucket i "
        "against bucket i with NO Exchange on either side — the "
        "shuffle is paid at write time, amortized over every "
        "subsequent join. The MERGE hint makes the query PLAN that "
        "co-located SortMergeJoin even at fixture scale, where the "
        "planner would otherwise pick a BroadcastHashJoin (the "
        "fixture fits under the 64 MB broadcast threshold, and a "
        "broadcast plan demonstrates nothing about the bucket "
        "layout); at 100 TB neither side is broadcastable and SMJ "
        "over the bucket partitioning is the only plan that avoids "
        "shuffling both facts "
        "(tests/test_plans.py::test_registered_bucketed_join_colocated "
        "pins the exchange-free SMJ shape of THIS query; "
        "test_bucketed_join_no_exchange proves the underlying "
        "bucketing discipline, incl. sort elision, on its own "
        "tables). Result hash-matches the plain join oracle, proving "
        "the bucketed round-trip is lossless. DECIMAL revenue sums "
        "exactly; one double conversion at the end."
    ),
    tags=("storage", "bucketing", "join"),
)
def q_lineitem_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # bucketBy requires saveAsTable. EXTERNAL tables on a fresh tmp
    # path per invocation: a managed table's warehouse directory
    # outlives the (in-memory) catalog across driver sessions, and a
    # stale location makes the next session's CREATE fail with
    # LOCATION_ALREADY_EXISTS. The bucketed layout is derived state;
    # the fixture stays the source of truth.
    tmp = tmpdirs.mkdtemp(prefix="bucketed_join_")
    li.select("l_orderkey", "l_extendedprice").write.bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").mode("overwrite").format("parquet").option(
        "path", os.path.join(tmp, "lineitem")
    ).saveAsTable("fep_bucketed_lineitem")
    o.select("o_orderkey", "o_orderpriority").write.bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").mode("overwrite").format("parquet").option(
        "path", os.path.join(tmp, "orders")
    ).saveAsTable("fep_bucketed_orders")
    lb = spark.table("fep_bucketed_lineitem")
    ob = spark.table("fep_bucketed_orders")
    # MERGE hint: force the sort-merge strategy so the join runs over
    # the bucket partitioning (zero Exchange) instead of broadcasting
    # the fixture-small orders side — the 100 TB plan, demonstrated at
    # any scale. AQE keeps strategy hints through re-optimization.
    joined = lb.hint("merge").join(ob, lb.l_orderkey == ob.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# portable Bloom filter semi-join pruning
# ---------------------------------------------------------------------------

_BLOOM_BITS = 512  # 16 x 32-bit words (32-bit so no shift ever
# touches bit 63: DuckDB range-checks BIGINT << and rejects 1 << 63,
# while Spark wraps — 32-bit words keep both engines in safe territory)
_BLOOM_COEFFS = ((3733, 89), (5279, 411), (7151, 1021))  # k = 3 probes
# a*x + b stays under 2^61 for 48-bit x and a < 2^13 — the same overflow
# headroom argument as the portable MinHash affine family.

_BLOOM_X = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT"
# qualified form for the probe CTE, where user_id would be ambiguous
# across the joined relations
_BLOOM_X_E = _BLOOM_X.replace("CAST(user_id", "CAST(e.user_id")


def _bloom_oracle() -> str:
    pos = [f"(({a} * x + {b}) % {_BLOOM_BITS})" for a, b in _BLOOM_COEFFS]
    member = " AND ".join(
        f"((coalesce(w{i}.word, 0) >> ({p} % 32)) & 1) = 1"
        for i, p in enumerate(pos)
    )
    joins = "\n".join(
        f"LEFT JOIN words w{i} ON w{i}.w = ({p} // 32)"
        for i, p in enumerate(pos)
    )
    word_rows = "\n    UNION ALL\n    ".join(
        f"SELECT ({p} // 32) AS w, (CAST(1 AS BIGINT) << ({p} % 32)) AS bit"
        f" FROM build"
        for p in pos
    )
    return f"""
WITH build AS (
    SELECT DISTINCT {_BLOOM_X} AS x
    FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
),
words AS (
    SELECT w, bit_or(bit) AS word FROM (
    {word_rows}
    ) GROUP BY w
),
purchasers AS (
    SELECT DISTINCT user_id FROM events
    WHERE event_type = 'purchase' AND user_id IS NOT NULL
),
probe_ids AS (
    -- click traffic plus a deterministic synthetic cold segment
    -- (user_id + 1000000: guaranteed non-members) so the
    -- false-positive statistics are exercised even on fixtures where
    -- every clicking user also purchases
    SELECT user_id FROM events
    WHERE event_type = 'click' AND user_id IS NOT NULL
    UNION ALL
    SELECT user_id + 1000000 FROM events
    WHERE event_type = 'click' AND user_id IS NOT NULL
),
probe AS (
    SELECT e.user_id, {_BLOOM_X_E} AS x,
           CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS is_member
    FROM probe_ids e LEFT JOIN purchasers p ON e.user_id = p.user_id
),
flags AS (
    SELECT is_member,
           CASE WHEN {member} THEN 1 ELSE 0 END AS bloom_pass
    FROM probe
    {joins}
)
SELECT count(*) AS n_probed,
       CAST(sum(bloom_pass) AS BIGINT) AS n_bloom_pass,
       CAST(sum(is_member) AS BIGINT) AS n_true_members,
       CAST(sum(CASE WHEN bloom_pass = 1 AND is_member = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
       CAST(sum(CASE WHEN bloom_pass = 0 AND is_member = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negatives
FROM flags
"""


@register(
    "events_bloom_prune",
    oracle=_bloom_oracle(),
    doc=(
        "Portable Bloom-filter semi-join pruning — the runtime-filter "
        "device big engines inject automatically (Spark's "
        "runtime.bloomFilter, Flink's runtime filters), rebuilt from "
        "portable primitives so the BITS themselves are "
        "driver-provable: a 512-bit filter over purchasing users "
        "(md5 -> 48-bit int, 3 affine probes, per-word integer "
        "bit_or — order-independent, mergeable partial aggregate) is "
        "collected as 16 x 32-bit words (metadata, like the IVF "
        "centroids) and "
        "inlined into a pure-projection membership test over the "
        "click stream. Output counts the pruning quality: probed "
        "rows, bloom passes, true members (exact semi-join), false "
        "positives, and a false-negative row that MUST be zero — the "
        "Bloom no-false-negative guarantee as a checked value. At "
        "100 TB the filter build is one tiny aggregation on the "
        "small side and the probe never shuffles: this is how you "
        "skip 99% of a fact scan before a join."
    ),
    tags=("join", "bloom", "pruning", "portable-oracle"),
)
def q_events_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    build = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
        )
        .select(x.alias("x"))
        .distinct()
    )
    # k probe positions -> (word, bit) contributions -> 16-word bit_or
    contribs = build.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        ((F.lit(a) * F.col("x") + F.lit(b)) % _BLOOM_BITS)
                        .alias("pos")
                    )
                    for a, b in _BLOOM_COEFFS
                ]
            )
        ).alias("c")
    ).select(
        F.expr("c.pos div 32").alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(c.pos % 32 AS INT))").alias(
            "bit"
        ),
    )
    # the whole filter is 16 x 32-bit words — metadata-sized driver
    # state, like the IVF centroid collect
    rows = contribs.groupBy("w").agg(F.expr("bit_or(bit)").alias("word")).collect()
    words = [0] * (_BLOOM_BITS // 32)
    for r in rows:
        words[r["w"]] = r["word"]
    purchasers = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
        )
        .select("user_id")
        .distinct()
    )
    clicks = ev.filter(
        (F.col("event_type") == "click") & F.col("user_id").isNotNull()
    ).select("user_id")
    # click traffic + a deterministic synthetic cold segment (ids
    # shifted by 1e6: guaranteed non-members) so the false-positive
    # statistics are exercised even when every clicker purchases
    probe_ids = clicks.unionByName(
        clicks.select((F.col("user_id") + 1_000_000).alias("user_id"))
    )
    probe = (
        probe_ids.select("user_id", x.alias("x"))
        .join(
            purchasers.withColumn("is_member", F.lit(1)), "user_id", "left"
        )
        .select(
            "x", F.coalesce("is_member", F.lit(0)).alias("is_member")
        )
    )
    member = F.lit(True)
    for a, b in _BLOOM_COEFFS:
        # inlined-literal word lookup: pure projection, codegen'd
        bit = F.expr(
            f"shiftright(element_at(array({','.join(f'{int(wd)}L' for wd in words)}), "
            f"CAST((({a} * x + {b}) % {_BLOOM_BITS}) div 32 AS INT) + 1), "
            f"CAST((({a} * x + {b}) % {_BLOOM_BITS}) % 32 AS INT)) & 1"
        )
        member = member & (bit == 1)
    flags = probe.select(
        "is_member", F.when(member, 1).otherwise(0).alias("bloom_pass")
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum("bloom_pass").cast("long").alias("n_bloom_pass"),
        F.sum("is_member").cast("long").alias("n_true_members"),
        F.sum(
            F.when((F.col("bloom_pass") == 1) & (F.col("is_member") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("n_false_positives"),
        F.sum(
            F.when((F.col("bloom_pass") == 0) & (F.col("is_member") == 1), 1)
            .otherwise(0)
        ).cast("long").alias("n_false_negatives"),
    )


# ---------------------------------------------------------------------------
# interval merge (union of per-event activity windows)
# ---------------------------------------------------------------------------

_ACT_US = 300 * 1_000_000  # each event covers [t, t + 5 min)


@register(
    "user_active_coverage",
    oracle=f"""
WITH e AS (
    SELECT DISTINCT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
    FROM events WHERE user_id IS NOT NULL
),
w AS (
    SELECT user_id, t,
           max(t + {_ACT_US}) OVER (
               PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM e
),
s AS (
    SELECT user_id, t,
           CASE WHEN prev_end IS NULL OR t > prev_end THEN 1 ELSE 0 END AS ni
    FROM w
),
i AS (
    SELECT user_id, t,
           SUM(ni) OVER (PARTITION BY user_id ORDER BY t
                         ROWS UNBOUNDED PRECEDING) AS island
    FROM s
),
g AS (
    SELECT user_id, island, min(t) AS s0, max(t) + {_ACT_US} AS e0
    FROM i GROUP BY user_id, island
)
SELECT user_id,
       count(*) AS n_intervals,
       CAST(sum(e0 - s0) AS BIGINT) AS covered_us
FROM g GROUP BY user_id
""",
    doc=(
        "Interval union (merge of overlapping activity windows) — the "
        "interval-algebra primitive behind billing, uptime, and "
        "active-time metrics: each event covers [t, t+5min); "
        "overlapping or adjacent windows merge (gaps-and-islands via "
        "running max of interval end over the per-user time sort), "
        "and each user reports merged-interval count and total "
        "covered time. All arithmetic in integer epoch-microseconds "
        "— no float time math to drift. Two windows + one aggregation "
        "over ONE hash partitioning on user_id (Catalyst reuses the "
        "Exchange); duplicate timestamps dedupe first so tie order "
        "can never matter."
    ),
    tags=("window", "interval-algebra", "sessionization"),
)
def q_user_active_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    e = ev.select(
        "user_id", F.unix_micros(F.col("ts")).alias("t")
    ).distinct()
    order = Window.partitionBy("user_id").orderBy("t")
    prev_end = F.max(F.col("t") + _ACT_US).over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    s = e.select(
        "user_id",
        "t",
        F.when(prev_end.isNull() | (F.col("t") > prev_end), 1)
        .otherwise(0)
        .alias("ni"),
    )
    island = F.sum("ni").over(
        order.rowsBetween(Window.unboundedPreceding, 0)
    )
    g = (
        s.select("user_id", "t", island.alias("island"))
        .groupBy("user_id", "island")
        .agg(
            F.min("t").alias("s0"),
            (F.max("t") + _ACT_US).alias("e0"),
        )
    )
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("e0") - F.col("s0")).cast("long").alias("covered_us"),
    )


# ---------------------------------------------------------------------------
# matryoshka two-stage retrieval (coarse prefix scan -> exact re-rank)
# ---------------------------------------------------------------------------

_MRL_PREFIX = 16   # coarse stage scores only the first 16 dims
_MRL_COARSE_K = 100
_MRL_K = 10


@register(
    "embedding_matryoshka_rerank",
    oracle=f"""
WITH q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
coarse AS (
    SELECT e.vec_id,
           CAST(e.embedding AS DOUBLE[]) AS ev,
           list_dot_product(CAST(e.embedding AS DOUBLE[])[1:{_MRL_PREFIX}],
                            q.qv[1:{_MRL_PREFIX}]) AS coarse_score
    FROM embeddings e CROSS JOIN q
    ORDER BY coarse_score DESC, e.vec_id ASC
    LIMIT {_MRL_COARSE_K}
)
SELECT c.vec_id AS vec_id,
       floor(c.coarse_score * 1000000 + 0.5) / 1000000 AS coarse_score,
       floor(list_dot_product(c.ev, q.qv) * 1000000 + 0.5) / 1000000
           AS full_score
FROM coarse c CROSS JOIN q
ORDER BY list_dot_product(c.ev, q.qv) DESC, c.vec_id ASC
LIMIT {_MRL_K}
""",
    doc=(
        "Matryoshka two-stage retrieval — the coarse-to-fine serving "
        "shape MRL-style embeddings enable: stage 1 scores the corpus "
        "on only the first 16 of 64 dims (4x less arithmetic and — "
        "with a dimension-pruned columnar layout — 4x less IO) and "
        "keeps the top 100 via TakeOrderedAndProject; stage 2 "
        "re-ranks ONLY those 100 candidates with the full-dimension "
        "dot product. The corpus is scanned once, the re-rank input "
        "is metadata-sized, and both stages are pure projections off "
        "a broadcast 1-row query — no shuffle anywhere. Same "
        "sequential-fold dot product as the exact k-NN family, "
        "quantized at 1e-6 on output."
    ),
    tags=("llm", "embedding", "ann", "rerank"),
)
def q_embedding_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.similarity import _as_double, _dot

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    e = _as_double(F.col("embedding"))
    qv = _as_double(F.col("q"))
    coarse_score = _dot(
        F.slice(e, 1, _MRL_PREFIX), F.slice(qv, 1, _MRL_PREFIX)
    )
    coarse = (
        emb.join(F.broadcast(query))
        .select(
            "vec_id",
            e.alias("ev"),
            qv.alias("qv"),
            coarse_score.alias("coarse_score"),
        )
        .orderBy(F.col("coarse_score").desc(), F.col("vec_id").asc())
        .limit(_MRL_COARSE_K)
    )
    full = _dot(F.col("ev"), F.col("qv"))
    q6 = lambda c: F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000  # noqa: E731
    return (
        coarse.select(
            "vec_id",
            q6(F.col("coarse_score")).alias("coarse_score"),
            q6(full).alias("full_score"),
            full.alias("__full_raw"),
        )
        .orderBy(F.col("__full_raw").desc(), F.col("vec_id").asc())
        .limit(_MRL_K)
        .drop("__full_raw")
    )


# ---------------------------------------------------------------------------
# in-engine OLS trend fit (closed-form least squares on integer sums)
# ---------------------------------------------------------------------------

_OLS_BASE_HR = 438_000  # hours 1970->~2019-12-18; rebases x so the
# int64 moment products (n*sxy, n*sxx, sx^2) stay far under 2^63 at
# fixture scales. At true 100 TB row counts the moment accumulators
# would move to DECIMAL(38,0) — documented, same closed form.


@register(
    "events_value_trend_ols",
    oracle=f"""
WITH p AS (
    SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 - {_OLS_BASE_HR} AS x,
           {_CENTS_SQL} AS y
    FROM events
),
m AS (
    SELECT event_type,
           count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM p GROUP BY event_type
)
SELECT event_type, n, sx, sy,
       floor(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000000 + 0.5)
           / 1000000000 AS slope_cents_per_hr
FROM m
""",
    doc=(
        "In-engine OLS trend — closed-form least squares "
        "(cents-per-hour slope of engagement value, per event type) "
        "from the classic moment sums. The float-determinism device: "
        "x is an integer hour index (rebased so every moment product "
        "fits int64 at fixture scale; DECIMAL(38,0) is the 100 TB "
        "form), y is integer cents, so n/sx/sy/sxy/sxx are EXACT "
        "order-independent integer sums — the slope is one double "
        "division of two exact integers, quantized at 1e-9. One "
        "aggregation pass, five rows out; the regression never sees "
        "a second scan or a driver-side loop. This is the "
        "trend-detection primitive monitoring pipelines run per "
        "metric series."
    ),
    tags=("aggregates", "regression", "exact"),
)
def q_events_value_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        "event_type",
        F.expr(f"unix_micros(ts) div 3600000000 - {_OLS_BASE_HR}").alias("x"),
        _cents(F.col("value")).alias("y"),
    )
    m = p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        "event_type",
        "n",
        "sx",
        "sy",
        (F.floor(num / den * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000).alias(
            "slope_cents_per_hr"
        ),
    )


# ---------------------------------------------------------------------------
# portable count-min sketch (frequency estimation with exact oracle)
# ---------------------------------------------------------------------------

_CMS_W = 1024  # counters per row
_CMS_ROWS = ((4733, 97), (6101, 433), (7919, 1009))  # d = 3 hash rows


def _cms_oracle() -> str:
    x = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT"
    cols = [f"(({a} * x + {b}) % {_CMS_W})" for a, b in _CMS_ROWS]
    counter_rows = "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS r, {c} AS col, count(*) AS n FROM h GROUP BY 2"
        for i, c in enumerate(cols)
    )
    est = "least(" + ", ".join(f"c{i}.n" for i in range(len(cols))) + ")"
    joins = "\n".join(
        f"JOIN counters c{i} ON c{i}.r = {i} AND c{i}.col = ({c} // 1)"
        for i, c in enumerate(cols)
    )
    return f"""
WITH h AS (
    SELECT user_id, {x} AS x
    FROM events WHERE user_id IS NOT NULL
),
counters AS (
    {counter_rows}
),
exact AS (
    SELECT user_id, any_value(x) AS x, count(*) AS true_count
    FROM h GROUP BY user_id
),
top AS (
    SELECT * FROM exact ORDER BY true_count DESC, user_id ASC LIMIT 20
)
SELECT t.user_id AS user_id,
       t.true_count AS true_count,
       CAST({est} AS BIGINT) AS cms_estimate,
       CAST({est} - t.true_count AS BIGINT) AS overcount
FROM top t
{joins}
"""


@register(
    "cms_user_frequency",
    oracle=_cms_oracle(),
    doc=(
        "Portable count-min sketch — the frequency-estimation sketch "
        "completing the portable sketch family (MinHash: similarity, "
        "HLL: cardinality, Bloom: membership, CMS: frequency), every "
        "one carrying an EXACT cross-engine oracle: 3 hash rows x "
        "1024 counters built from the md5/affine device with plain "
        "integer count aggregation (order-independent by "
        "construction), probed for the top-20 users with "
        "estimate = min over the 3 rows' counters. true_count rides "
        "alongside, and the checked overcount column exhibits the "
        "CMS one-sided-error guarantee: estimate >= truth always "
        "(pinned in pytest). At 100 TB the counter table is d*w = "
        "3072 mergeable integers per grouping — the sketch a "
        "streaming top-talkers monitor keeps instead of a "
        "billion-key exact map. One scan builds the counters, one "
        "builds the exact counts; the probe joins are "
        "3072-row-broadcast lookups."
    ),
    tags=("sketch", "count-min", "approx", "portable-oracle"),
)
def q_cms_user_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    x = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    h = ev.select("user_id", x.alias("x"))
    # counters: one groupBy per hash row over the same scan, unioned —
    # Spark computes them as three partial aggregations of one relation
    counters = None
    for i, (a, b) in enumerate(_CMS_ROWS):
        c = (
            h.groupBy(((F.lit(a) * F.col("x") + F.lit(b)) % _CMS_W).alias("col"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(i).alias("r"), "col", "n")
        )
        counters = c if counters is None else counters.unionByName(c)
    exact = h.groupBy("user_id").agg(
        F.first("x").alias("x"), F.count(F.lit(1)).alias("true_count")
    )
    top = exact.orderBy(
        F.col("true_count").desc(), F.col("user_id").asc()
    ).limit(20)
    est_cols = []
    probe = top
    for i, (a, b) in enumerate(_CMS_ROWS):
        ci = counters.filter(F.col("r") == i).select(
            F.col("col").alias(f"col{i}"), F.col("n").alias(f"n{i}")
        )
        probe = probe.join(
            F.broadcast(ci),
            ((F.lit(a) * F.col("x") + F.lit(b)) % _CMS_W) == F.col(f"col{i}"),
        )
        est_cols.append(F.col(f"n{i}"))
    est = F.least(*est_cols)
    return probe.select(
        "user_id",
        "true_count",
        est.cast("long").alias("cms_estimate"),
        (est - F.col("true_count")).cast("long").alias("overcount"),
    )
