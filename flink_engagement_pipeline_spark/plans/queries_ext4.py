"""Round-5 extension batches #2-3 and the round-6 CEP suite: a
portable HDR-histogram quantile sketch (completing the oracled sketch
family: HLL for distincts, Bloom for membership, count-min for
frequency, HDR for quantiles), Flink-parity retract-stream
aggregation over a full Debezium changelog (before + after images),
HLL audience overlap via sketch merge + inclusion-exclusion, native
partitioned NTILE, and the CEP/MATCH_RECOGNIZE query family — four
registered patterns (windowed negation, tightened-window direct
purchase, session-scoped, count-quantified) all compiled from
operators/cep.py Pattern specs, plus stream_cep_replay, the
incremental/streaming form with watermark state expiry proven
stream==batch under the driver oracle.

House rules as ever: JVM-side expressions only, each oracle generated
from the same constants as the Spark plan, every cross-engine float
hazard quantized or kept integer until a single final division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import load_table
from .registry import register

# sign-aware integer-cent quantization of `value`: exact in both
# engines, summable in any order. The NULL->0 form for measures that
# must never be null (its Column twin is queries_ext3's `_cents`,
# imported below); the NULL-preserving form for profiling.
_CENTS_SQL = """
CASE WHEN value IS NULL THEN 0
     WHEN value >= 0 THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
     ELSE -CAST(floor(-value * 100 + 0.5) AS BIGINT) END
"""

_CENTS_NULL_SQL = """
CASE WHEN value IS NULL THEN NULL
     WHEN value >= 0 THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
     ELSE -CAST(floor(-value * 100 + 0.5) AS BIGINT) END
"""


def _cents_null(col: F.Column) -> F.Column:
    return (
        F.when(col.isNull(), F.lit(None).cast("long"))
        .when(col >= 0, F.floor(col * 100 + F.lit(0.5)).cast("long"))
        .otherwise(-F.floor(-col * 100 + F.lit(0.5)).cast("long"))
    )


# ---------------------------------------------------------------------------
# portable HDR-histogram quantile sketch
# ---------------------------------------------------------------------------

_HDR_PCTS = (50, 90, 99)


@register(
    "events_hdr_quantiles",
    oracle=f"""
WITH v AS (
    SELECT event_type, ({_CENTS_NULL_SQL}) * 8 AS w
    FROM events
    WHERE value IS NOT NULL AND ({_CENTS_NULL_SQL}) >= 1
),
b AS (
    SELECT event_type, w, length(bin(w)) AS e FROM v
),
bb AS (
    SELECT event_type, w,
           (e - 4) * 8 + (w >> (e - 4)) - 8 AS bucket,
           ((w >> (e - 4)) << (e - 4))      AS lb
    FROM b
),
counts AS (
    SELECT event_type, bucket, max(lb) AS lb,
           CAST(count(*) AS BIGINT) AS cnt
    FROM bb GROUP BY event_type, bucket
),
cum AS (
    SELECT event_type, bucket, lb, cnt,
           CAST(sum(cnt) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum,
           CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM counts
),
sel AS (
    SELECT event_type, pct, n, lb AS est_w
    FROM (
        SELECT c.*, p.pct,
               CAST((c.n * p.pct + 99) // 100 AS BIGINT) AS target
        FROM cum c
        CROSS JOIN (SELECT unnest([{", ".join(map(str, _HDR_PCTS))}]) AS pct) p
    )
    WHERE cum - cnt < target AND cum >= target
),
t2 AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n2
    FROM v GROUP BY event_type
),
pcts2 AS (
    SELECT event_type, pct,
           CAST((n2 * pct + 99) // 100 AS BIGINT) AS target
    FROM t2
    CROSS JOIN (SELECT unnest([{", ".join(map(str, _HDR_PCTS))}]) AS pct) p
),
ranked AS (
    SELECT event_type, w,
           row_number() OVER (PARTITION BY event_type ORDER BY w) AS rn
    FROM v
),
exact AS (
    SELECT r.event_type, p.pct, r.w AS exact_w
    FROM ranked r
    JOIN pcts2 p ON r.event_type = p.event_type AND r.rn = p.target
)
SELECT s.event_type AS event_type,
       CAST(s.pct AS INTEGER) AS pct,
       s.n AS n_rows,
       s.est_w AS est_w,
       e.exact_w AS exact_w,
       floor((s.est_w / e.exact_w - 1.0) * 1000000 + 0.5) / 1000000 AS rel_err
FROM sel s
JOIN exact e ON s.event_type = e.event_type AND s.pct = e.pct
""",
    doc=(
        "Portable HDR-histogram quantile sketch — the fourth member "
        "of the oracled sketch family (HLL distincts, Bloom "
        "membership, count-min frequency, HDR quantiles). Values are "
        "integer cents scaled by 8 so every input has >= 4 bits; the "
        "bucket is (exponent, top-3-mantissa-bits) computed with pure "
        "integer primitives portable across engines (length(bin(w)) "
        "for the exponent — the HLL device — and shifts for the "
        "mantissa slice), giving <= 12.5% relative error per octave "
        "with NO transcendental anywhere. p50/p90/p99 are read off "
        "the cumulative bucket counts; the discrete exact quantile "
        "rides alongside via row_number so the sketch's relative "
        "error is itself part of the hash-checked output (est_w is "
        "the bucket lower bound, so rel_err is always in (-0.125, "
        "0]). At 100 TB the histogram is mergeable partial state — "
        "~8 * 64 counters per group, one shuffle on (type, bucket), "
        "raw values never reshuffled; the exact-rank branch here is "
        "the sf-scale verification harness, not the production path. "
        "value_percentiles_by_type (rows-only) is the built-in "
        "approx_percentile twin; this one is driver-provable."
    ),
    tags=("sketch", "quantiles", "hdr", "approx", "portable-oracle"),
)
def q_events_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        "event_type", (_cents_null(F.col("value")) * 8).alias("w")
    ).filter(F.col("w") >= 8)
    bb = (
        v.withColumn("e", F.length(F.bin("w")))
        .withColumn("m", F.expr("shiftright(w, e - 4)"))
        .withColumn("bucket", (F.col("e") - 4) * 8 + F.col("m") - 8)
        .withColumn("lb", F.expr("shiftleft(m, e - 4)"))
    )
    counts = bb.groupBy("event_type", "bucket").agg(
        F.max("lb").alias("lb"), F.count(F.lit(1)).alias("cnt")
    )
    cum_w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    all_w = Window.partitionBy("event_type").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = counts.withColumn("cum", F.sum("cnt").over(cum_w)).withColumn(
        "n", F.sum("cnt").over(all_w)
    )
    # quantile selection is PER ROW (prev_cum < target <= cum), so the
    # sketch path never joins back into its own subtree — one scan,
    # one (type, bucket) shuffle, one tiny window.
    pct_col = F.explode(F.array(*[F.lit(p) for p in _HDR_PCTS])).alias("pct")
    sel = (
        cum.select("event_type", "lb", "cnt", "cum", "n", pct_col)
        .withColumn("target", F.expr("(n * pct + 99) DIV 100"))
        .filter(
            (F.col("cum") - F.col("cnt") < F.col("target"))
            & (F.col("cum") >= F.col("target"))
        )
        .select("event_type", "pct", "n", F.col("lb").alias("est_w"))
    )
    # exact-rank verification branch: targets recomputed from a plain
    # count so this branch never duplicates the sketch subtree either.
    pcts2 = (
        v.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n2"))
        .select("event_type", "n2", pct_col)
        .withColumn("target", F.expr("(n2 * pct + 99) DIV 100"))
        .select("event_type", "pct", "target")
    )
    rank_w = Window.partitionBy("event_type").orderBy("w")
    ranked = v.withColumn("rn", F.row_number().over(rank_w))
    exact = (
        ranked.join(pcts2, "event_type")
        .filter(F.col("rn") == F.col("target"))
        .select("event_type", "pct", F.col("w").alias("exact_w"))
    )
    return sel.join(exact, ["event_type", "pct"]).select(
        "event_type",
        F.col("pct").cast("int").alias("pct"),
        F.col("n").alias("n_rows"),
        "est_w",
        "exact_w",
        (
            F.floor(
                (F.col("est_w") / F.col("exact_w") - 1.0) * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# retract-stream aggregation over a full Debezium changelog
# ---------------------------------------------------------------------------

_RETRACT_ROW_T = "struct<event_id:bigint,event_type:string,cents:bigint>"

RETRACT_ROW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("cents", T.LongType(), True),
    ]
)

# Final-state oracle for the synthetic changelog: shared by the batch
# retract aggregation and the streaming incremental-maintenance replay
# (queries_stream.py), which must converge to the same state.
RETRACT_FINAL_ORACLE = f"""
WITH f AS (
    SELECT CASE WHEN event_id % 10 = 0 THEN 'migrated'
                ELSE event_type END AS g,
           CASE WHEN event_id % 5 = 0 THEN ({_CENTS_SQL}) + 17
                ELSE ({_CENTS_SQL}) END AS v
    FROM events
    WHERE event_id % 35 <> 0
)
SELECT g AS event_type,
       CAST(count(*) AS BIGINT) AS n_live,
       CAST(sum(v) AS BIGINT) AS total_cents
FROM f GROUP BY g
"""


def synth_changelog_wire(events_df: DataFrame, ops: str = "cud") -> DataFrame:
    """Synthesize the deterministic full-Debezium changelog from raw
    events and serialize it to the JSON wire envelope. ``ops`` selects
    which change kinds to emit ('c' creates for every event, 'u'
    updates for event_id%5==0 with a group move to 'migrated' for
    %10==0, 'd' trailing deletes for %35==0) — the streaming replay
    feeds 'c' in micro-batch 0 and 'ud' in micro-batch 1, so the
    union over batches is exactly the batch changelog. One scan:
    every emitted change rides one array-explode per source row."""
    from ..sources import cdc

    base = events_df.select(
        "event_id",
        "event_type",
        _cents(F.col("value")).alias("v1"),
        (F.unix_micros("ts") / F.lit(1000)).cast("long").alias("ts_ms"),
    )

    def row(eid: F.Column, g: F.Column, v: F.Column) -> F.Column:
        return F.struct(
            eid.alias("event_id"), g.alias("event_type"), v.alias("cents")
        )

    null_row = F.lit(None).cast(_RETRACT_ROW_T)
    null_op = F.lit(None).cast("string")
    g2 = F.when(F.col("event_id") % 10 == 0, F.lit("migrated")).otherwise(
        F.col("event_type")
    )
    v2 = F.col("v1") + 17
    create = F.struct(
        (F.lit("c") if "c" in ops else null_op).alias("op"),
        null_row.alias("before"),
        row(F.col("event_id"), F.col("event_type"), F.col("v1")).alias(
            "after"
        ),
        F.col("ts_ms").alias("ts_ms"),
    )
    update = F.struct(
        (
            F.when(F.col("event_id") % 5 == 0, F.lit("u")).otherwise(null_op)
            if "u" in ops
            else null_op
        ).alias("op"),
        row(F.col("event_id"), F.col("event_type"), F.col("v1")).alias(
            "before"
        ),
        row(F.col("event_id"), g2, v2).alias("after"),
        (F.col("ts_ms") + 1).alias("ts_ms"),
    )
    delete = F.struct(
        (
            F.when(F.col("event_id") % 35 == 0, F.lit("d")).otherwise(null_op)
            if "d" in ops
            else null_op
        ).alias("op"),
        row(F.col("event_id"), g2, v2).alias("before"),
        null_row.alias("after"),
        (F.col("ts_ms") + 2).alias("ts_ms"),
    )
    changes = base.select(
        F.explode(
            F.filter(
                F.array(create, update, delete),
                lambda x: x["op"].isNotNull(),
            )
        ).alias("ch")
    ).select("ch.*")
    return cdc.to_full_cdc_envelope(changes)


@register(
    "cdc_retract_agg",
    oracle=RETRACT_FINAL_ORACLE,
    doc=(
        "Flink retract-stream aggregation (the semantics the "
        "reference's runtime applies to its PRIMARY-KEY changelog "
        "table, src/ingest.py:9-32): a Debezium changelog with BOTH "
        "images — creates for every event, updates (+17 cents, and "
        "for event_id%10==0 a group MOVE to 'migrated') for "
        "event_id%5==0, trailing deletes for event_id%35==0 — is "
        "serialized through the full JSON envelope {{op, before, "
        "after, ts_ms}}, parsed back with a declared schema, and "
        "aggregated by signed contributions (+after for c/u, -before "
        "for u/d). The oracle computes the FINAL-STATE aggregate "
        "directly, so the hash check proves the retract arithmetic "
        "reconstructs it exactly — including cross-group moves, where "
        "the retraction lands in the old group and the accumulation "
        "in the new one. Order-independence of the signed integer "
        "sum is the 100 TB property: no per-key state, no window, "
        "ONE shuffle on the group key; the changelog is scanned once "
        "(both contributions are built per row and filtered inside "
        "the array before the explode)."
    ),
    tags=("cdc", "retract", "changelog", "aggregates", "json"),
)
def q_cdc_retract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import cdc

    ev = load_table(spark, sf_dir, "events")
    wire = synth_changelog_wire(ev, "cud")
    parsed = cdc.parse_full_cdc_envelope(wire, RETRACT_ROW_SCHEMA)
    agg = cdc.retract_aggregate(parsed, "event_type", "cents")
    return agg.select(
        "event_type",
        "n_live",
        F.col("total").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# HLL audience overlap: sketch MERGE + inclusion-exclusion
# ---------------------------------------------------------------------------

# identical constants to queries_ext3's portable HLL — the overlap
# query must estimate with the exact same sketch so the two queries
# cross-check each other. Importing queries_ext3 registers its queries,
# so this import stays here: queries_stream imports this module first,
# and registration order is part of the driver contract. Moved to the
# top of this module, it registers ext3's queries ahead of this
# module's first ones, which reorders REGISTRY.md and changes the
# computed gate window (tests/test_gate_window.py).
from .queries_ext3 import _HLL_EST, _HLL_M, _HLL_SCALE, _cents  # noqa: E402


@register(
    "audience_overlap",
    oracle=f"""
WITH src AS (
    SELECT event_type, user_id,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS x
    FROM events
    WHERE user_id IS NOT NULL AND event_type IN ('view', 'purchase')
),
lab AS (
    SELECT unnest([event_type, 'union']) AS label, x, user_id FROM src
),
r AS (
    SELECT label, x % {_HLL_M} AS reg,
           1 + length(bin(x // {_HLL_M}))
             - length(rtrim(bin(x // {_HLL_M}), '0')) AS rho
    FROM lab
),
regs AS (
    SELECT label, reg, max(rho) AS m_rho FROM r GROUP BY label, reg
),
sketch AS (
    SELECT label,
           count(*) AS registers_used,
           CAST(sum(CAST(1 AS BIGINT) << ({_HLL_SCALE} - m_rho)) AS BIGINT)
             + ({_HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {_HLL_SCALE})
             AS s_scaled
    FROM regs GROUP BY label
),
est AS (
    SELECT label, {_HLL_EST} AS e FROM sketch
),
ex AS (
    SELECT label, CAST(count(DISTINCT user_id) AS BIGINT) AS d
    FROM lab GROUP BY label
),
w AS (
    SELECT max(CASE WHEN label = 'view' THEN e END)     AS est_view,
           max(CASE WHEN label = 'purchase' THEN e END) AS est_purchase,
           max(CASE WHEN label = 'union' THEN e END)    AS est_union
    FROM est
),
wx AS (
    SELECT max(CASE WHEN label = 'view' THEN d END)     AS exact_view,
           max(CASE WHEN label = 'purchase' THEN d END) AS exact_purchase,
           max(CASE WHEN label = 'union' THEN d END)    AS exact_union
    FROM ex
)
SELECT est_view, est_purchase, est_union,
       floor(((est_view + est_purchase) - est_union) * 1000000 + 0.5)
           / 1000000 AS est_intersection,
       exact_view, exact_purchase, exact_union,
       (exact_view + exact_purchase) - exact_union AS exact_intersection
FROM w CROSS JOIN wx
""",
    doc=(
        "Audience overlap via HLL set algebra — the sketch property "
        "that matters at 100 TB is MERGEABILITY, and this query "
        "exercises it directly: every event row contributes its "
        "(register, rho) to its own set's sketch AND to the union "
        "sketch through one array-explode (so per-set and merged "
        "registers come out of ONE scan and one shuffle; merging "
        "sketches is max() over registers, never a re-scan of raw "
        "ids), then |view INTERSECT purchase| falls out of "
        "inclusion-exclusion est_view + est_purchase - est_union. "
        "Identical constants and estimate expression as "
        "hll_portable_reach (imported, not copied), so the two "
        "queries cross-check; exact distincts and the exact "
        "intersection ride alongside, putting the estimator's error "
        "itself under the hash check. The estimate arithmetic stays "
        "in the integer-harmonic-sum device end-to-end; the only "
        "doubles are the final per-label division and the quantized "
        "inclusion-exclusion sum, written token-identically in both "
        "dialects."
    ),
    tags=("sketch", "hll", "approx", "set-ops", "portable-oracle"),
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isin("view", "purchase")
    )
    x = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    src = ev.select("event_type", "user_id", x.alias("x"))
    lab = src.select(
        F.explode(F.array(F.col("event_type"), F.lit("union"))).alias(
            "label"
        ),
        "x",
        "user_id",
    )
    b = F.bin(F.expr("x div 64"))
    r = lab.select(
        "label",
        (F.col("x") % _HLL_M).alias("reg"),
        (
            F.lit(1)
            + F.length(b)
            - F.length(F.expr("trim(TRAILING '0' FROM bin(x div 64))"))
        ).alias("rho"),
    )
    regs = r.groupBy("label", "reg").agg(F.max("rho").alias("m_rho"))
    sketch = regs.groupBy("label").agg(
        F.count(F.lit(1)).alias("registers_used"),
        (
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE} - m_rho)")
            )
            + (F.lit(_HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << _HLL_SCALE).cast("long")
        ).alias("s_scaled"),
    )
    est = sketch.select("label", F.expr(_HLL_EST).alias("e"))
    ex = lab.groupBy("label").agg(
        F.countDistinct("user_id").alias("d")
    )

    def one(col: str, lbl: str, out: str) -> F.Column:
        return F.max(F.when(F.col("label") == lbl, F.col(col))).alias(out)

    w = est.agg(
        one("e", "view", "est_view"),
        one("e", "purchase", "est_purchase"),
        one("e", "union", "est_union"),
    )
    wx = ex.agg(
        one("d", "view", "exact_view"),
        one("d", "purchase", "exact_purchase"),
        one("d", "union", "exact_union"),
    )
    return w.crossJoin(wx).select(
        "est_view",
        "est_purchase",
        "est_union",
        (
            F.floor(
                ((F.col("est_view") + F.col("est_purchase")) - F.col("est_union"))
                * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000
        ).alias("est_intersection"),
        "exact_view",
        "exact_purchase",
        "exact_union",
        (
            (F.col("exact_view") + F.col("exact_purchase"))
            - F.col("exact_union")
        ).alias("exact_intersection"),
    )


# ---------------------------------------------------------------------------
# NTILE quartile profile — completes the ranking-window surface
# ---------------------------------------------------------------------------

@register(
    "events_ntile_quartiles",
    oracle=f"""
WITH v AS (
    SELECT event_type, event_id, ({_CENTS_SQL}) AS c FROM events
),
t AS (
    SELECT event_type, c,
           ntile(4) OVER (PARTITION BY event_type ORDER BY c, event_id) AS q
    FROM v
)
SELECT event_type, q AS quartile,
       CAST(count(*) AS BIGINT) AS n,
       min(c) AS min_cents, max(c) AS max_cents,
       CAST(sum(c) AS BIGINT) AS sum_cents
FROM t GROUP BY event_type, q
""",
    doc=(
        "NTILE(4) quartile profile per event type (count, min/max, "
        "sum of integer cents per tile) — completes the ANSI ranking-"
        "window surface alongside rank/dense_rank/row_number/"
        "percent_rank/cume_dist: this is the native PARTITIONED "
        "F.ntile (docs_quality_deciles deliberately avoids it, "
        "replicating GLOBAL ntile arithmetic on the distributed "
        "row-number primitive instead — partitioned NTILE "
        "parallelizes fine and needs no such rewrite, which is "
        "exactly the distinction worth pinning). NTILE assignment is only "
        "deterministic under a TOTAL order, so the tiebreak on "
        "event_id is load-bearing for the cross-engine hash (both "
        "engines give earlier tiles the extra rows when n % 4 != 0). "
        "One shuffle on event_type; at 100 TB a single hot type "
        "serializes its partition — the HDR sketch is the "
        "constant-state alternative when tile BOUNDARIES (not exact "
        "membership) are the requirement."
    ),
    tags=("window", "ntile", "ranking", "aggregates"),
)
def q_events_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", "event_id", _cents(F.col("value")).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("c", "event_id")
    t = v.withColumn("q", F.ntile(4).over(w))
    return t.groupBy("event_type", F.col("q").alias("quartile")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c").alias("min_cents"),
        F.max("c").alias("max_cents"),
        F.sum("c").cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# CEP pattern detection: ordered sequence + time window + negation
#
# Round 5 proved this shape as ONE hand-built query; round 6
# generalizes it into operators/cep.py (a declarative Pattern spec
# compiled to the chained last(ignorenulls) carry-forward device).
# BOTH dialects of each query below — the Spark plan AND the DuckDB
# oracle — are generated from the SAME Pattern object, so they cannot
# drift (the portable-MinHash discipline applied to CEP).
# ---------------------------------------------------------------------------

from ..operators.cep import (  # noqa: E402
    CountConstraint,
    Pattern,
    PatternStep,
    match_pattern,
    pattern_oracle_sql,
)

_CEP_WINDOW_US = 172_800_000_000  # 48 hours
_CEP_SOURCE_SQL = (
    "SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us "
    "FROM events WHERE user_id IS NOT NULL"
)
_CEP_VCP = Pattern(
    steps=(
        PatternStep("view", "event_type = 'view'"),
        PatternStep("click", "event_type = 'click'"),
        PatternStep("purchase", "event_type = 'purchase'"),
    ),
    within=_CEP_WINDOW_US,
    negation="event_type = 'error'",
)


def _cep_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared CEP input: integer epoch-micro timestamps end-to-end
    (no session-TZ exposure), keyed rows only."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
    )


def _cep_oracle(pattern: Pattern) -> str:
    return pattern_oracle_sql(
        pattern,
        source_sql=_CEP_SOURCE_SQL,
        partition_by="user_id",
        ts_col="ts_us",
        tiebreak=("event_id",),
    )


@register(
    "cep_conversion_within",
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_conversions,
       min(latency) AS min_latency_us
FROM ({_cep_oracle(_CEP_VCP)})
GROUP BY user_id
""",
    doc=(
        "CEP pattern detection — the Flink MATCH_RECOGNIZE shape the "
        "reference's engagement domain asks for: view -> click -> "
        "purchase per user, the WHOLE sequence inside a 48-hour "
        "window, with NEGATION (no 'error' event anywhere between "
        "the matched view and the purchase). Semantics are greedy "
        "last-before (each purchase binds the latest prior click, "
        "which binds its latest prior view). Compiled from a "
        "declarative Pattern spec by operators/cep.py — no joins and "
        "no state machine: ONE shuffle on user_id, then chained "
        "last(..., ignorenulls) carry-forwards over the "
        "PRECEDING-exclusive frame propagate the view's (ts, "
        "error-prefix-count) through the click to the purchase row, "
        "and the negation is an integer prefix-sum difference — the "
        "same plan at 100 TB, since per-user sequences ride single "
        "partitions and the carried state is three longs. The DuckDB "
        "oracle is generated from the SAME spec "
        "(pattern_oracle_sql), so the dialects cannot drift; "
        "operator semantics are unit-pinned on inline frames in "
        "tests/test_cep.py. conversion_funnel is the aggregate-join "
        "form of the ordered-steps question; this is the per-match "
        "form with temporal and negation constraints, which the join "
        "form cannot express without re-scanning per constraint. "
        "The 48 h window is sized to the fixture's sparse per-user "
        "spacing so every constraint DISCRIMINATES (sf0.001: 26 "
        "matches, 17 sequences killed by the error-negation alone, "
        "19 by the window alone)."
    ),
    tags=("cep", "window", "sequence", "engagement", "negation"),
)
def q_cep_conversion_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = match_pattern(
        _cep_events(spark, sf_dir),
        _CEP_VCP,
        partition_by="user_id",
        ts_col="ts_us",
        tiebreak=("event_id",),
    )
    return hits.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.min("latency").alias("min_latency_us"),
    )


_CEP_DIRECT_WINDOW_US = 86_400_000_000  # 24 hours
_CEP_DIRECT = Pattern(
    steps=(
        PatternStep("view", "event_type = 'view'"),
        PatternStep("purchase", "event_type = 'purchase'"),
    ),
    within=_CEP_DIRECT_WINDOW_US,
    negation="event_type = 'click'",
)


@register(
    "cep_direct_purchase",
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_direct,
       min(latency) AS min_latency_us,
       max(latency) AS max_latency_us
FROM ({_cep_oracle(_CEP_DIRECT)})
GROUP BY user_id
""",
    doc=(
        "Second CEP pattern, proving operators/cep.py is an operator "
        "and not a one-off: view -> purchase within 24 h with NO "
        "click in between — the 'direct' conversion that skipped the "
        "funnel, per user. A different arity (2 steps vs 3), a "
        "TIGHTENED window (24 h vs 48 h), and a different negation "
        "class (a funnel step as the negation, not an error) from "
        "cep_conversion_within, all expressed as a five-line Pattern "
        "spec compiled to the same one-shuffle, no-join plan; the "
        "DuckDB oracle is generated from the SAME spec. Every "
        "constraint discriminates on the fixture (sf0.001: 59 "
        "matches; the click-negation alone kills 11 sequences, the "
        "24 h window alone kills 33 — empty results are weak proof, "
        "so the parameters are sized to keep all three constraint "
        "classes load-bearing)."
    ),
    tags=("cep", "window", "sequence", "engagement", "negation"),
)
def q_cep_direct_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = match_pattern(
        _cep_events(spark, sf_dir),
        _CEP_DIRECT,
        partition_by="user_id",
        ts_col="ts_us",
        tiebreak=("event_id",),
    )
    return hits.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_direct"),
        F.min("latency").alias("min_latency_us"),
        F.max("latency").alias("max_latency_us"),
    )


_CEP_SESSION_GAP_US = 43_200_000_000  # 12 hours of inactivity ends a session
_CEP_SESSION = Pattern(
    steps=(
        PatternStep("view", "event_type = 'view'"),
        PatternStep("click", "event_type = 'click'"),
        PatternStep("purchase", "event_type = 'purchase'"),
    ),
    negation="event_type = 'error'",
)
# Sessionized CEP source: gap-based session ids ride every event, so
# the pattern can demand the WHOLE sequence inside one session (the
# MATCH_RECOGNIZE-within-session shape) instead of a fixed window.
_CEP_SESSION_SOURCE_SQL = f"""
SELECT user_id, event_id, event_type, ts_us,
       CAST(sum(CASE WHEN prev_ts IS NULL
                          OR ts_us - prev_ts > {_CEP_SESSION_GAP_US}
                     THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS sess_id
FROM (
    SELECT user_id, event_id, event_type, ts_us,
           lag(ts_us) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
           ) AS prev_ts
    FROM ({_CEP_SOURCE_SQL})
)
"""


@register(
    "cep_session_conversion",
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_conversions,
       min(latency) AS min_latency_us
FROM ({pattern_oracle_sql(
        _CEP_SESSION,
        source_sql=_CEP_SESSION_SOURCE_SQL,
        partition_by="user_id",
        ts_col="ts_us",
        tiebreak=("event_id",),
        carry_cols=("sess_id",),
    )})
WHERE view_sess_id = purchase_sess_id
GROUP BY user_id
""",
    doc=(
        "Third CEP pattern: view -> click -> purchase with no error "
        "between, where the WHOLE sequence must fall inside ONE "
        "gap-based session (12 h of inactivity ends a session) — the "
        "MATCH_RECOGNIZE-within-session shape, replacing the fixed "
        "time window with a data-driven boundary. Exercises the "
        "operator's carry-column device: the bound view's session id "
        "is carried through the chain (one extra long of per-row "
        "state) and compared to the match row's own session id; "
        "sessionization itself is a lag + prefix-sum over the SAME "
        "user_id partitioning, so the whole query is still one "
        "shuffle, no joins. Both dialects — the sessionized source, "
        "the carried chain, the equality — are generated from the "
        "same spec/SQL fragments. Constraint discrimination at "
        "sf0.001: 45 sequences pass the order+negation constraints, "
        "the session equality kills 37 of them, 8 survive — every "
        "constraint class is load-bearing (empty results are weak "
        "proof)."
    ),
    tags=("cep", "session", "sequence", "engagement", "negation"),
)
def q_cep_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cep_events(spark, sf_dir)
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.withColumn(
        "prev_ts", F.lag("ts_us").over(order)
    ).withColumn(
        "sess_id",
        F.sum(
            F.when(
                F.col("prev_ts").isNull()
                | (F.col("ts_us") - F.col("prev_ts") > _CEP_SESSION_GAP_US),
                1,
            ).otherwise(0)
        ).over(cum).cast("long"),
    ).drop("prev_ts")
    hits = match_pattern(
        sess,
        _CEP_SESSION,
        partition_by="user_id",
        ts_col="ts_us",
        tiebreak=("event_id",),
        carry_cols=("sess_id",),
    )
    return (
        hits.filter(F.col("view_sess_id") == F.col("purchase_sess_id"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.min("latency").alias("min_latency_us"),
        )
    )


@register(
    "stream_cep_replay",
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_conversions,
       min(latency) AS min_latency_us
FROM ({_cep_oracle(_CEP_VCP)})
GROUP BY user_id
""",
    doc=(
        "CEP as INCREMENTAL VIEW MAINTENANCE — the streaming form of "
        "pattern matching, stream==batch proven under the driver "
        "oracle: the event history replays as two time-split "
        "micro-batches (a real Structured Streaming file source, "
        "maxFilesPerTrigger=1), each processed by "
        "operators/cep.py:match_pattern_incremental against the "
        "PERSISTED carry state of everything before it; per-batch "
        "matches append to an exactly-once IdempotentParquetSink and "
        "the new state commits alongside, keyed by batch id. The "
        "union of per-batch matches, aggregated per user, "
        "hash-matches the SAME full-history oracle as "
        "cep_conversion_within — per-batch emission loses nothing. "
        "The state is O(pattern^2) longs PER KEY (each level's "
        "greedy-bound chain tuple + the negation prefix-sum), not "
        "per-event: at 100 TB/day this is a keyed state table the "
        "size of the user dimension, no event buffer and no window "
        "replay — the MATCH_RECOGNIZE analog of the retract-"
        "aggregation state story (stream_retract_replay). Split-"
        "equivalence at EVERY batch boundary is additionally "
        "unit-pinned in tests/test_cep.py."
    ),
    tags=("cep", "streaming", "incremental", "exactly-once", "consistency"),
)
def q_stream_cep_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os

    from .. import tmpdirs
    from ..operators.cep import (
        expire_state,
        match_pattern_incremental,
        state_schema_cols,
    )
    from ..streaming.pipeline import replay_width, run_stream
    from ..streaming.sinks import IdempotentParquetSink

    tmp = tmpdirs.mkdtemp(prefix="stream_cep_")
    events_dir = os.path.join(tmp, "events")
    os.makedirs(events_dir)
    prep = _cep_events(spark, sf_dir)
    # two time-split micro-batches: every event in batch b is later
    # than every batch-a event — the per-key time-ordering contract a
    # watermarked stream provides (integer-median split, exact)
    med = prep.agg(F.expr("percentile_approx(ts_us, 0.5)").alias("m")).first()["m"]
    for fname, part in (("a", prep.filter(F.col("ts_us") < med)),
                        ("b", prep.filter(F.col("ts_us") >= med))):
        d = os.path.join(tmp, f"half_{fname}")
        part.coalesce(1).write.parquet(d)
        src = glob.glob(os.path.join(d, "*.parquet"))[0]
        dst = os.path.join(events_dir, f"{fname}.parquet")
        os.rename(src, dst)
        # the file source orders by (mtime, path): make it explicit
        t = 1_000_000_000 + (0 if fname == "a" else 1000)
        os.utime(dst, (t, t))
    match_sink = IdempotentParquetSink(os.path.join(tmp, "matches"))
    state_sink = IdempotentParquetSink(os.path.join(tmp, "state"))

    def apply(df, bid):
        prev = state_sink.committed_paths(below=bid)
        state = (
            spark.read.option("pathGlobFilter", "*.parquet")
            .parquet(prev[-1])
            .select("user_id", *state_schema_cols(_CEP_VCP))
            if prev
            else None
        )
        matches, new_state = match_pattern_incremental(
            df,
            _CEP_VCP,
            state,
            partition_by="user_id",
            ts_col="ts_us",
            tiebreak=("event_id",),
        )
        # watermark expiry: chain tuples older than the 48 h pattern
        # window can never complete a match, so they are nulled out of
        # the committed state (the negation prefix-sum base remains —
        # this pattern carries a count constraint); match-equivalence
        # of expiry is unit-pinned in test_cep.py
        wm = df.agg(F.max("ts_us")).first()[0]
        if wm is not None:
            new_state = expire_state(new_state, _CEP_VCP, wm)
        match_sink.write_batch(matches, bid)
        state_sink.write_batch(new_state, bid)

    stream = (
        spark.readStream.schema(prep.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    with replay_width(spark):
        run_stream(stream, apply, os.path.join(tmp, "ckpt"))
    matches = match_sink.read_committed(spark)
    return matches.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.min("latency").alias("min_latency_us"),
    )


_CEP_ENGAGED_WINDOW_US = 345_600_000_000  # 96 hours
_CEP_ENGAGED = Pattern(
    steps=(
        PatternStep("view", "event_type = 'view'"),
        PatternStep("purchase", "event_type = 'purchase'"),
    ),
    within=_CEP_ENGAGED_WINDOW_US,
    negation="event_type = 'error'",
    counts=(CountConstraint("event_type = 'click'", 2, None),),
)


@register(
    "cep_engaged_conversion",
    oracle=f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_engaged,
       min(latency) AS min_latency_us
FROM ({_cep_oracle(_CEP_ENGAGED)})
GROUP BY user_id
""",
    doc=(
        "Fourth CEP pattern, exercising the COUNT-CONSTRAINT "
        "(quantifier) class: view -> purchase within 96 h with AT "
        "LEAST TWO clicks in between and no error — the "
        "MATCH_RECOGNIZE B{2,} shape, which neither the chain levels "
        "nor negation alone can express. Compiled as one more integer "
        "prefix-sum riding the same single user_id shuffle (negation "
        "itself is now the count==0 special case of the same "
        "mechanism). Every constraint class discriminates at sf0.001: "
        "93 order+negation matches in-window, the clicks>=2 "
        "quantifier keeps 19 (a clicks>=3 variant would keep 6 — the "
        "bound itself is load-bearing, not just the constraint's "
        "presence). The DuckDB oracle is generated from the same "
        "spec."
    ),
    tags=("cep", "quantifier", "sequence", "engagement", "negation"),
)
def q_cep_engaged_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = match_pattern(
        _cep_events(spark, sf_dir),
        _CEP_ENGAGED,
        partition_by="user_id",
        ts_col="ts_us",
        tiebreak=("event_id",),
    )
    return hits.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_engaged"),
        F.min("latency").alias("min_latency_us"),
    )


# --------------------------------------------------------------------------
# MMR diversified rerank (round 6)
# --------------------------------------------------------------------------

from ..llm import similarity as _sim  # noqa: E402


@register(
    "embedding_mmr_rerank",
    oracle=_sim.mmr_rerank_oracle_sql(),
    doc=(
        "Maximal-marginal-relevance diversified rerank (Carbonell & "
        "Goldstein 1998): exact cosine top-32 pool against vec_id=0, "
        "then greedy top-10 maximizing 0.5*rel - 0.5*max-sim-to-"
        "selected. The inherently sequential greedy loop is ONE "
        "Catalyst expression (aggregate over sequence(1,k) carrying a "
        "selected/remaining/emitted state struct) applied to a single "
        "metadata-sized row — no driver loop, no collect, no UDF; the "
        "distributed part is the scan + TakeOrderedAndProject pool "
        "build, and at scale the same expression riding a per-query "
        "pool column diversifies a million-query batch in parallel. "
        "Exact DuckDB oracle: the same greedy fold unrolled as k "
        "chained MATERIALIZED CTEs, one per pick (list_dot_product == "
        "the Spark sequential fold, bit-for-bit; recursion was "
        "abandoned — DuckDB 1.0 recursive state segfaults, see "
        "similarity.py). The diversity term is load-bearing on "
        "the fixture: MMR order != relevance order (pinned in "
        "tests/test_ext4.py)."
    ),
    tags=("llm", "similarity", "rerank", "mmr", "iterative"),
)
def q_embedding_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim.mmr_rerank(load_table(spark, sf_dir, "embeddings"))


@register(
    "embedding_mmr_batch",
    oracle=_sim.mmr_rerank_batch_oracle_sql(),
    doc=(
        "Batched MMR: 4 broadcast query rows diversified in ONE plan — "
        "corpus scanned once computing 4 cosines per row (the knn_join "
        "shape), per-query pools via a qid-partitioned row_number "
        "window, then the SAME greedy fold expression as "
        "embedding_mmr_rerank applied to every query row "
        "independently. This is the proof of the single-query form's "
        "scale claim: a million-query rerank batch is one shuffle on "
        "qid plus a metadata-sized fold per row (both shuffles key on "
        "qid, the second reuses the first's partitioning) — never a "
        "driver loop per query. The DuckDB oracle unrolls the k picks "
        "as chained MATERIALIZED CTEs, each stage carrying one state "
        "row per qid (no recursion — DuckDB 1.0 recursive state "
        "corrupts/segfaults, see similarity.py)."
    ),
    tags=("llm", "similarity", "rerank", "mmr", "batch"),
)
def q_embedding_mmr_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim.mmr_rerank_batch(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# CUMULATE window (round 6) — completes the Flink window-TVF family
# --------------------------------------------------------------------------

from ..operators import windows as _win  # noqa: E402


@register(
    "cumulate_engagement",
    oracle=_win.cumulate_oracle_sql(),
    doc=(
        "Flink CUMULATE window TVF (FLIP-145): expanding windows "
        "[span, span + j*step) within each 10-minute span at a "
        "2-minute step — early cumulative results that HOP "
        "over-counts and TUMBLE delivers late; completes the window "
        "family (TUMBLE/HOP/SESSION/CUMULATE). Same one-Exchange "
        "two-phase plan as hop_engagement_sum: integer-cent "
        "pre-aggregation per (step bucket, key), then a Generate "
        "explode of window indices that preserves the hash-by-key "
        "partitioning — the multiplied rows never cross the wire."
    ),
    tags=("window-agg", "cumulate", "event-time"),
)
def q_cumulate_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _win.cumulate_engagement_sum(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Window Top-N and Window Deduplication (round 6) — the remaining two
# patterns of Flink's window-TVF pattern family (Window Aggregation /
# Window Top-N / Window Join / Window Deduplication)
# --------------------------------------------------------------------------

_WTN_SIZE_US = 600_000_000  # 10-minute tumbling windows


@register(
    "window_topn",
    oracle=f"""
SELECT make_timestamp(win_us) AS window_start, user_id,
       CAST(total_dec AS DOUBLE) AS total_value, rn
FROM (
    SELECT win_us, user_id, total_dec,
           row_number() OVER (
               PARTITION BY win_us
               ORDER BY total_dec DESC, user_id ASC
           ) AS rn
    FROM (
        SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // {_WTN_SIZE_US})
                   * {_WTN_SIZE_US} AS win_us,
               user_id,
               SUM(CAST(value AS DECIMAL(18,2))) AS total_dec
        FROM events
        GROUP BY 1, 2
    )
)
WHERE rn <= 3
""",
    doc=(
        "Flink Window Top-N (the 'hot items per window' pattern): "
        "top-3 users by exact-decimal engagement sum per 10-minute "
        "tumbling window. One shuffle on (window, user) for the "
        "aggregate, then rank state bounded per window — at 100 TB "
        "the rank never sees more than one window's keys at a time, "
        "which is what makes window-scoped Top-N cheaper than the "
        "global leaderboard it complements (leaderboard_topk / "
        "top_users_per_type)."
    ),
    tags=("topk", "window-agg", "tumbling", "window-function"),
)
def q_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import dec

    events = load_table(spark, sf_dir, "events")
    win = (
        F.expr(f"unix_micros(ts) DIV {_WTN_SIZE_US}") * _WTN_SIZE_US
    ).alias("win_us")
    totals = events.groupBy(win, "user_id").agg(
        F.sum(dec("value")).alias("__tot")
    )
    w = Window.partitionBy("win_us").orderBy(
        F.col("__tot").desc(), F.col("user_id").asc()
    )
    return (
        totals.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.timestamp_micros(F.col("win_us")).alias("window_start"),
            "user_id",
            F.col("__tot").cast("double").alias("total_value"),
            "rn",
        )
    )


@register(
    "window_dedup",
    oracle=f"""
SELECT window_start, user_id, event_id, ts, value
FROM (
    SELECT make_timestamp(
               (epoch_us(CAST(ts AS TIMESTAMP)) // {_WTN_SIZE_US})
                   * {_WTN_SIZE_US}) AS window_start,
           user_id, event_id, ts, value,
           row_number() OVER (
               PARTITION BY (epoch_us(CAST(ts AS TIMESTAMP)) // {_WTN_SIZE_US}),
                            user_id
               ORDER BY ts ASC, event_id ASC
           ) AS rn
    FROM events
    WHERE user_id IS NOT NULL
)
WHERE rn = 1
""",
    doc=(
        "Flink Window Deduplication: the FIRST event per (user, "
        "10-minute tumbling window) by event time (event_id "
        "tiebreak) — the windowed form of latest_per_key, keeping "
        "one row per key per window instead of one per key. State is "
        "one row per (window, key) and expires with the window — the "
        "bounded-state property that makes streaming dedup viable "
        "forever, vs the unbounded key space of global dedup."
    ),
    tags=("dedup", "window-agg", "tumbling", "window-function"),
)
def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    win = (
        F.expr(f"unix_micros(ts) DIV {_WTN_SIZE_US}") * _WTN_SIZE_US
    ).alias("win_us")
    w = Window.partitionBy("win_us", "user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        events.select(win, "user_id", "event_id", "ts", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.timestamp_micros(F.col("win_us")).alias("window_start"),
            "user_id",
            "event_id",
            "ts",
            "value",
        )
    )


@register(
    "window_join",
    oracle=f"""
SELECT make_timestamp(win_us) AS window_start, user_id,
       CAST(n_views AS BIGINT) AS n_views,
       CAST(n_purchases AS BIGINT) AS n_purchases,
       CAST(n_pairs AS BIGINT) AS n_pairs
FROM (
    SELECT v.win_us AS win_us, v.user_id AS user_id,
           any_value(v.n) AS n_views, any_value(p.n) AS n_purchases,
           any_value(v.n) * any_value(p.n) AS n_pairs
    FROM (
        SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // {_WTN_SIZE_US})
                   * {_WTN_SIZE_US} AS win_us,
               user_id, count(*) AS n
        FROM events WHERE event_type = 'view' AND user_id IS NOT NULL
        GROUP BY 1, 2
    ) v
    JOIN (
        SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // {_WTN_SIZE_US})
                   * {_WTN_SIZE_US} AS win_us,
               user_id, count(*) AS n
        FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
        GROUP BY 1, 2
    ) p ON v.win_us = p.win_us AND v.user_id = p.user_id
    GROUP BY v.win_us, v.user_id
)
""",
    doc=(
        "Flink Window Join, completing the window pattern family "
        "(Aggregation / Top-N / Join / Deduplication): views joined "
        "to purchases of the SAME user in the SAME 10-minute tumbling "
        "window. Both sides pre-aggregate per (window, user) BEFORE "
        "the join — the pair count is the product of the per-side "
        "counts, so the join never materializes the pair blow-up and "
        "both the join and the aggregates share one (window, user) "
        "shuffle key. This is the bounded-state form of the "
        "stream-stream join (stream_join_replay): state expires with "
        "the window instead of the watermark horizon."
    ),
    tags=("window-agg", "tumbling", "join", "stream-stream"),
)
def q_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    win = (
        F.expr(f"unix_micros(ts) DIV {_WTN_SIZE_US}") * _WTN_SIZE_US
    ).alias("win_us")

    def side(etype: str, alias: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == etype)
            .groupBy(win, "user_id")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    v = side("view", "n_views")
    p = side("purchase", "n_purchases")
    return v.join(p, ["win_us", "user_id"]).select(
        F.timestamp_micros(F.col("win_us")).alias("window_start"),
        "user_id",
        "n_views",
        "n_purchases",
        (F.col("n_views") * F.col("n_purchases")).alias("n_pairs"),
    )


# --------------------------------------------------------------------------
# BPE merge training (round 6)
# --------------------------------------------------------------------------

from ..llm import text as _lt  # noqa: E402


@register(
    "docs_bpe_merges",
    oracle=_lt.bpe_merges_oracle_sql(),
    doc=(
        "BPE merge training (Sennrich et al. 2016): the 6 "
        "highest-weighted adjacent symbol pairs over the corpus "
        "vocabulary, merged greedily in order — the tokenizer-"
        "training op upstream of docs_tokenize_ids. The distributed "
        "work is the word-frequency pass (the only pass touching raw "
        "text) plus a per-step pair-count aggregation over the "
        "metadata-sized vocabulary; each argmax collects one row "
        "(the centroid-collect trainer pattern). Merge application "
        "is non-overlapping left-to-right replace on space-joined "
        "symbol sequences in BOTH engines, so the entire greedy run "
        "hash-matches an exact unrolled-SQL oracle (k MATERIALIZED "
        "stages; recursion avoided per the MMR oracle lesson)."
    ),
    tags=("llm", "tokenizer", "bpe", "iterative", "trainer"),
)
def q_docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lt.bpe_merges(load_table(spark, sf_dir, "documents"))
