"""Physical-plan audits: the scale posture is part of correctness.

Each assertion pins a plan property that must survive refactoring:
filters pushed into the parquet scan, small dimensions broadcast,
top-k compiled to TakeOrderedAndProject (no global sort) and pruned
read schemas. The registry-wide bans (no row-at-a-time Python, no
CartesianProduct, BroadcastNestedLoopJoin only on an allowlist) run in
tests/test_registry_oracle.py on each query's own executed plan.
"""

from __future__ import annotations

import os

from flink_engagement_pipeline_spark.plans import REGISTRATION_ORDER, REGISTRY
from flink_engagement_pipeline_spark.plans.window import (
    MAX_REPLAYS,
    REPROVE,
    SENTINELS,
    WINDOW,
    load_records,
    proofs,
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan(spark, sf_dir, name: str) -> str:
    return REGISTRY[name].spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_enrich_broadcasts_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "enrich_events")
    assert "BroadcastHashJoin" in plan
    # fact side must not shuffle for the join
    assert "SortMergeJoin" not in plan


def test_pricing_summary_pushes_filter_and_prunes(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: unused wide columns never leave the scan
    assert "l_comment" not in plan
    assert "ReadSchema" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "leaderboard_topk")
    assert "TakeOrderedAndProject" in plan


def test_top_orders_take_ordered_and_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_orders_by_revenue")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_regional_revenue_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "regional_revenue")
    # snowflake dims ride broadcast joins; only the fact join may shuffle
    assert plan.count("BroadcastHashJoin") >= 3
    assert "EqualTo(r_name,ASIA)" in plan  # literal filter reached the scan


def test_sink_projection_pushes_guards(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sink_projection")
    assert "PushedFilters" in plan and "IsNotNull(user_id)" in plan


def test_hop_is_single_shuffle_two_phase(spark, sf_dir):
    plan = _plan(spark, sf_dir, "hop_engagement_sum")
    # ONE exchange (key repartition); the 120x offset explode
    # (Generate) and both aggregations are partition-local — the
    # multiplied rows never cross the wire
    assert plan.count("Exchange") == 1
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Generate explode" in plan
    # pre-aggregation happens before the explode: an aggregate appears
    # below Generate in the tree
    assert "HashAggregate" in plan[plan.index("Generate"):]


def test_cdc_roundtrip_delete_resurrect(spark):
    """CDC changelog semantics on crafted history: an early delete is
    overridden by a later upsert (key resurrects); a trailing delete
    removes the key; latest upsert wins for surviving keys."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from flink_engagement_pipeline_spark.sources import cdc

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("val", T.StringType(), True),
            T.StructField("seq", T.LongType(), False),
        ]
    )
    history = [
        # key 1: upsert, upsert -> survives with latest val
        (1, "a", 1), (1, "b", 2),
        # key 2: upsert then delete (val=None marks the delete) -> absent
        (2, "x", 1), (2, None, 2),
        # key 3: delete then upsert -> resurrected
        (3, None, 1), (3, "y", 2),
    ]
    rows = spark.createDataFrame(history, schema)
    wire = cdc.to_cdc_envelope(
        rows,
        op=F.when(F.col("val").isNull(), "d").otherwise("u"),
        ts_ms=F.col("seq"),
    )
    assert wire.columns == ["value"]  # JSON wire format only
    parsed = cdc.parse_cdc_envelope(wire, schema)
    state = cdc.materialize(parsed, key="id", order=["seq"])
    got = {r["id"]: r["val"] for r in state.collect()}
    assert got == {1: "b", 3: "y"}


def test_interval_and_subquery_joins_stay_equi(spark, sf_dir):
    """The range predicate must ride an equi-join (hash/sort-merge),
    never degrade to a nested-loop cross product; correlated
    subqueries must decorrelate to joins (no per-row re-execution)."""
    for name in (
        "orders_events_interval_join",
        "late_ship_priority_counts",
        "small_quantity_revenue",
        "large_volume_customers",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert any(
            j in plan
            for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        ), name


def test_multiformat_source_roundtrip(spark, sf_dir, tmp_path):
    """JSON-lines and CSV sources with declared schemas reproduce the
    parquet source exactly (timestamps at full microsecond precision,
    NULLs preserved)."""
    from flink_engagement_pipeline_spark.sources import files as fsrc
    from flink_engagement_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    want = sorted(map(tuple, ev.collect()))
    jdir, cdir = str(tmp_path / "ev_json"), str(tmp_path / "ev_csv")
    odir = str(tmp_path / "ev_orc")
    fsrc.write_events_json(ev, jdir)
    fsrc.write_events_csv(ev, cdir)
    fsrc.write_events_orc(ev, odir)
    got_j = sorted(map(tuple, fsrc.read_events_json(spark, jdir).collect()))
    got_c = sorted(map(tuple, fsrc.read_events_csv(spark, cdir).collect()))
    got_o = sorted(map(tuple, fsrc.read_events_orc(spark, odir).collect()))
    assert got_j == want
    assert got_c == want
    assert got_o == want


def test_rollup_reuse_two_tier_aggregation(spark, sf_dir):
    """Continuous-aggregate pattern: a 1-minute rollup re-aggregated to
    10-minute windows equals direct 10-minute aggregation — the
    incremental-materialization identity that makes 100 TB dashboards
    affordable (decimal sums are associative, so re-aggregation is
    lossless; doubles would not guarantee this)."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.functions.exact import dec
    from flink_engagement_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    minute = (F.expr("unix_micros(ts) DIV 60000000") * 60000000).alias("m_us")
    rollup_1m = ev.groupBy(minute, "event_type").agg(
        F.sum(dec("value")).alias("v"), F.count("*").alias("n")
    )
    ten = (F.expr("m_us DIV 600000000") * 600000000).alias("w_us")
    from_rollup = rollup_1m.groupBy(ten, "event_type").agg(
        F.sum("v").cast("double").alias("sum_value"), F.sum("n").alias("n")
    )
    direct = ev.groupBy(
        (F.expr("unix_micros(ts) DIV 600000000") * 600000000).alias("w_us"),
        "event_type",
    ).agg(F.sum(dec("value")).cast("double").alias("sum_value"), F.count("*").alias("n"))
    a = sorted(map(tuple, from_rollup.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b and len(a) > 0


def test_catalog_ddl_ctas_roundtrip(spark, sf_dir, tmp_path):
    """Sink-side DDL bootstrap (SURVEY §2 K5, the ClickHouse
    CREATE-TABLE-IF-NOT-EXISTS analog): CTAS into a parquet-backed
    catalog table at an explicit location, idempotent re-create,
    INSERT INTO append, read-back via the catalog."""
    from flink_engagement_pipeline_spark.sources.tables import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_src")
    loc = str(tmp_path / "warehouse" / "enriched")
    spark.sql("DROP TABLE IF EXISTS engagement_rollup")
    spark.sql(
        f"""
        CREATE TABLE engagement_rollup USING parquet LOCATION '{loc}'
        AS SELECT event_type, count(*) AS n FROM events_src GROUP BY event_type
        """
    )
    spark.sql(f"CREATE TABLE IF NOT EXISTS engagement_rollup USING parquet LOCATION '{loc}'")
    n_types = spark.table("engagement_rollup").count()
    assert n_types > 0
    spark.sql("INSERT INTO engagement_rollup SELECT 'synthetic', 1")
    assert spark.table("engagement_rollup").count() == n_types + 1
    spark.sql("DROP TABLE engagement_rollup")


def test_returned_item_customers_plan(spark, sf_dir):
    """q10-style: returnflag + date filters pushed to the fact scans,
    customer/nation broadcast, top-20 as TakeOrderedAndProject."""
    plan = _plan(spark, sf_dir, "returned_item_customers")
    assert "PushedFilters" in plan and "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_brand_bracket_disjunction_pushdown(spark, sf_dir):
    """q19-style: Catalyst must extract per-side conjuncts from the OR
    brackets and push them into both scans (brand IN-list to part, the
    quantity envelope to lineitem) instead of evaluating the whole
    disjunction post-join only."""
    plan = _plan(spark, sf_dir, "brand_bracket_revenue")
    # part side: the brand/size disjunction reaches the scan as a pushed
    # Or-tree (plus the extracted common p_size >= 1 conjunct)
    assert "PushedFilters" in plan
    # the OR-tree reaches both scans (PushedFilters renders truncated in
    # toString, so assert the un-truncated extracted conjunct plus the
    # Or-tree prefix and the full Filter-node condition)
    assert "GreaterThanOrEqual(p_size,1)" in plan, plan
    assert "Or(Or(And(" in plan, plan
    assert "= Brand#12)" in plan, plan
    # lineitem side: the quantity brackets reach the scan's DataFilters
    # (full text in the Filter node; PushedFilters is truncated)
    assert "(l_quantity#" in plan and "<= 40.0)" in plan, plan
    assert "BroadcastHashJoin" in plan


def test_brand_supplier_counts_null_aware_anti(spark, sf_dir):
    """q16-style NOT IN: planned as a broadcast null-aware anti join —
    never a nested-loop over the fact."""
    plan = _plan(spark, sf_dir, "brand_supplier_counts")
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan
    # count(DISTINCT) runs as expand/two-phase agg, still hash-based
    assert "HashAggregate" in plan


def test_gapfill_spine_is_broadcast(spark, sf_dir):
    """Gap-fill: the dense minute spine joins the rollup via broadcast
    (the spine is O(minutes), never shuffled with the fact side)."""
    plan = _plan(spark, sf_dir, "minute_rollup_gapfill")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the rollup itself is the only hash-partitioned exchange before the
    # LOCF window sort
    assert "HashAggregate" in plan


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Warehouse write path: events written partitioned by event date
    must (a) round-trip exactly and (b) turn a date predicate into
    PartitionFilters on re-read — scanning one directory, not the
    table. At 100 TB date-partitioning is the first-order I/O lever:
    a day filter reads ~1/30th of a month, before any row filtering.
    """
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "ev_by_day")
    (
        ev.withColumn("event_date", F.to_date("ts"))
        .write.partitionBy("event_date")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    # round-trip: same rows (modulo the added partition column)
    assert back.count() == ev.count()

    one_day = back.filter(F.col("event_date") == "2024-01-02")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_date" in plan, plan
    # the date predicate must NOT appear as a post-scan data filter
    got = one_day.count()
    want = ev.filter(F.to_date("ts") == "2024-01-02").count()
    assert got == want and got > 0


def test_load_table_pins_utc_session_timezone(spark, sf_dir):
    """The driver calls queries with its own session in an arbitrary
    timezone; hour()/date_format()/timestamp casts all render through
    the session TZ, so load_table must pin UTC in the query path
    (same contract as nanosAsLong)."""
    from flink_engagement_pipeline_spark.sources.tables import load_table

    tz_key = "spark.sql.session.timeZone"
    original = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "America/New_York")
        load_table(spark, sf_dir, "events")
        assert spark.conf.get(tz_key) == "UTC"
    finally:
        spark.conf.set(tz_key, original)


def test_global_row_number_ties_and_empty(spark):
    """Edge cases: duplicate order-key values must still produce a
    deterministic dense 1..n numbering when the order includes a
    tiebreak (total order), and an empty input must yield an empty
    frame with the row_num column — both without a SinglePartition
    exchange."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.operators.rank import global_row_number

    df = spark.createDataFrame(
        [(1, "b"), (1, "a"), (0, "z"), (1, "a2"), (0, "y")], "k long, s string"
    )
    out = global_row_number(df, ["k", "s"], num_partitions=3)
    rows = {r["s"]: r["row_num"] for r in out.collect()}
    assert rows == {"y": 1, "z": 2, "a": 3, "a2": 4, "b": 5}
    empty = spark.createDataFrame([], "k long, s string")
    out_empty = global_row_number(empty, ["k", "s"], num_partitions=3)
    assert out_empty.columns == ["k", "s", "row_num"]
    assert out_empty.count() == 0


def test_runtime_bloom_filter_join(spark, sf_dir):
    """Runtime filtering, the third join-side scale lever beside
    broadcast and AQE skew handling: with a selective filter on one
    join side, Catalyst injects a bloom_filter_agg on that side and a
    might_contain probe into the big side's scan, so fact rows that
    cannot match are dropped BEFORE the join shuffle. Thresholds are
    forced down so fixture-scale data exhibits the production plan."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.sources.tables import load_table

    keys = (
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(keys[0], "true")
        spark.conf.set(keys[1], "10GB")
        spark.conf.set(keys[2], "0")
        spark.conf.set(keys[3], "-1")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:1200]
        assert "might_contain" in plan.lower() or "BloomFilter" in plan, plan[:1200]
        n = joined.count()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # correctness unchanged by the runtime filter
    orders2 = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li2 = load_table(spark, sf_dir, "lineitem")
    assert n == li2.join(
        orders2, F.col("l_orderkey") == F.col("o_orderkey")
    ).count()


def test_gate_priority_window_covers_graded_surface():
    """The driver's correctness gate checks only the first 50 registered
    queries, which plans/window.py computes from the committed
    CORRECTNESS records. The live REGISTRY holds the window's rules:
    sentinels first, then every oracled query still owed a proof,
    then a backfill by oldest proof that skips a query only under the
    replay or big-output cap; no no-oracle query anywhere in it."""
    proven, big = proofs(load_records(REPO_ROOT))
    names = list(REGISTRY)
    window = names[:WINDOW]
    assert names[WINDOW:] == [n for n in REGISTRATION_ORDER if n not in window]
    assert tuple(window[: len(SENTINELS)]) == SENTINELS
    assert all(REGISTRY[n].oracle is not None for n in window)
    assert len([n for n in window if n in big]) <= 1

    def owed(n):
        return proven.get(n) is None or proven[n] < REPROVE.get(n, 0)

    oracled = [n for n in REGISTRATION_ORDER if REGISTRY[n].oracle is not None]
    first_proof = [n for n in oracled if owed(n) and n not in SENTINELS]
    assert set(first_proof) <= set(window)
    backfill = window[len(SENTINELS) + len(first_proof):]
    assert not any(owed(n) for n in backfill)
    assert [proven[n] for n in backfill] == sorted(proven[n] for n in backfill)
    assert len([n for n in backfill if n.startswith("stream_")]) <= MAX_REPLAYS

    def capped(n):
        return n.startswith("stream_") or n in big

    newest = max(proven[n] for n in backfill if not capped(n))
    left_out = [n for n in oracled if n not in window and not capped(n)]
    assert all(proven[n] >= newest for n in left_out)


def test_global_row_number_no_single_partition(spark, sf_dir):
    """Distributed global row numbering must never collapse to one
    task: rows are bucketed by literal range boundaries and ranked
    within buckets (offsets ride a broadcast join) — no Exchange
    SinglePartition anywhere, unlike a bare unpartitioned window — and
    the numbering pass spreads across partitions (hashpartitioning on
    the range id)."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.operators.rank import global_row_number
    from flink_engagement_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    out = global_row_number(ev, ["ts", "event_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan[:1500]
    assert "hashpartitioning(__pid" in plan, plan[:1500]
    # and the numbering is exactly the single-task window's output
    from pyspark.sql import Window

    w = Window.orderBy("ts", "event_id")
    expect = sorted(
        map(tuple, ev.withColumn("row_num", F.row_number().over(w)).collect())
    )
    got = sorted(
        map(tuple, out.select("event_id", "ts", "row_num").collect())
    )
    assert got == expect


def test_global_row_number_leaves_no_cached_relation(spark, sf_dir):
    """The boundary literals make range assignment a pure function of
    the row, so no pass needs a pinned relation: after the query is
    built AND consumed, the session must hold zero persisted RDDs
    (the earlier cache-based form leaked one dataset-sized relation
    per invocation — at 100 TB that cache is the dataset)."""
    from flink_engagement_pipeline_spark.operators.rank import global_row_number
    from flink_engagement_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    # id-set delta: other suites legitimately hold persisted RDDs
    # (localCheckpoint lineage cuts) in the shared session, and the
    # ContextCleaner may unpersist THOSE asynchronously while this
    # test runs — so assert no NEW ids appear rather than comparing
    # counts (a concurrent removal made the count form flaky once the
    # round-7 checkpointed-candidate builders entered the suite)
    def _ids():
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs()
            .keySet()
            .toArray()
        }

    before = _ids()
    for _ in range(2):  # repeated invocation must not accumulate
        out = global_row_number(ev, ["ts", "event_id"])
        assert out.count() == ev.count()
    assert _ids() - before == set()


def test_grouped_global_row_number_matches_window(spark, sf_dir):
    """The grouped device must reproduce ``row_number() OVER
    (PARTITION BY group ORDER BY ...)`` exactly — boundaries are
    sampled globally but counts/offsets are (group, range)-keyed, so
    per-group numbering is unconditional (see operators/rank.py)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.operators.rank import (
        grouped_global_row_number,
    )
    from flink_engagement_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    out = grouped_global_row_number(
        ev, "event_type", ["ts", "event_id"], out="rn"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    expect = sorted(
        map(tuple, ev.withColumn("rn", F.row_number().over(w)).collect())
    )
    got = sorted(
        map(tuple, out.select("event_id", "event_type", "ts", "rn").collect())
    )
    assert got == expect


def test_grouped_global_row_number_edge_cases(spark, sf_dir):
    """Degenerate inputs the device must survive: an EMPTY frame (no
    boundaries, no counts — must return empty, not fail on the offsets
    join) and a SINGLE-group frame (the grouped form degenerates to
    the global device's shape and must still number exactly)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.operators.rank import (
        grouped_global_row_number,
    )
    from flink_engagement_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    empty = ev.filter(F.lit(False)).withColumn("g", F.lit("x"))
    assert grouped_global_row_number(
        empty, "g", ["ts", "event_id"], out="rn"
    ).count() == 0
    one = ev.withColumn("g", F.lit("only"))
    got = sorted(
        map(
            tuple,
            grouped_global_row_number(one, "g", ["ts", "event_id"], out="rn")
            .select("event_id", "rn")
            .collect(),
        )
    )
    w = Window.partitionBy("g").orderBy("ts", "event_id")
    expect = sorted(
        map(
            tuple,
            one.withColumn("rn", F.row_number().over(w))
            .select("event_id", "rn")
            .collect(),
        )
    )
    assert got == expect


def test_grouped_global_row_number_null_group(spark, sf_dir):
    """NULL group values must be numbered like any other group (the
    offsets join is null-safe — a plain equality would silently drop
    every NULL-group row even though the counts pass collects them;
    r12 ADVICE). Matches PARTITION BY semantics, which put all NULLs
    in one partition."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.operators.rank import (
        grouped_global_row_number,
    )
    from flink_engagement_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    # null out one type's group value: a mixed null/non-null frame
    nulled = ev.withColumn(
        "g",
        F.when(F.col("event_type") == "click", F.lit(None)).otherwise(
            F.col("event_type")
        ),
    )
    out = grouped_global_row_number(
        nulled, "g", ["ts", "event_id"], out="rn"
    )
    assert out.count() == nulled.count()  # nothing dropped
    w = Window.partitionBy("g").orderBy("ts", "event_id")
    expect = sorted(
        map(
            tuple,
            nulled.withColumn("rn", F.row_number().over(w))
            .select("event_id", "g", "rn")
            .collect(),
        ),
        key=lambda t: (t[0],),
    )
    got = sorted(
        map(tuple, out.select("event_id", "g", "rn").collect()),
        key=lambda t: (t[0],),
    )
    assert got == expect


def test_manifest_ids_checkpoint_memoized(spark, sf_dir):
    """manifest_index_of's lineage-cut localCheckpoint — the documented
    exception to rank.py's zero-persisted-relations claim — must be
    memoized per semantic input: repeated serves of the same manifest
    (bench min-of-N, the gate) reuse ONE pinned id frame instead of
    accumulating a session-lifetime pin per invocation (r12 ADVICE)."""
    from flink_engagement_pipeline_spark.plans import queries_ext8 as e8
    from flink_engagement_pipeline_spark.plans.queries_llm import (
        corpus_prep_frame,
    )

    def _n_pinned():
        jsc = spark.sparkContext._jsc.sc()
        return jsc.getPersistentRDDs().size()

    prep = corpus_prep_frame(spark, sf_dir)
    first = e8.manifest_index_of(prep)
    first.count()
    pinned_after_first = _n_pinned()
    memo_size = len(e8._IDS_CKPT_MEMO)
    for _ in range(3):
        again = e8.manifest_index_of(corpus_prep_frame(spark, sf_dir))
        again.count()
    # no NEW pins accumulate across repeated serves; <= (not ==)
    # because the shared session's ContextCleaner may asynchronously
    # reclaim EARLIER tests' dropped checkpoints between the two
    # measurements (observed in the full suite after the r15 CC gate
    # shortened the window between them)
    assert _n_pinned() <= pinned_after_first
    assert len(e8._IDS_CKPT_MEMO) == memo_size


def test_manifest_sample_idx_no_split_sized_window(spark, sf_dir):
    """The r11 verdict's weak finding, pinned fixed: the manifest
    family's per-split sample index must NOT ride a Window whose only
    partition keys are the 3 split values (a fixed-parallelism sort of
    the whole post-dedup corpus that WindowGroupLimit cannot prune —
    every row needs a number). Both rebuild-shaped manifest queries
    must number via the grouped global_row_number device: the
    numbering exchange hashes on (split, __pid) and no stage is
    single-partition. The ingest/replay queries are exempt by design —
    their windows cover only the incoming batch."""
    import re

    from flink_engagement_pipeline_spark.plans import REGISTRY

    for name in ("docs_training_manifest", "corpus_manifest_multimodal"):
        plan = (
            REGISTRY[name]
            .spark(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SinglePartition" not in plan, (name, plan[:1500])
        assert re.search(r"hashpartitioning\(split#\d+, __pid#", plan), (
            name,
            plan[:1500],
        )
        # the old 3-key shape: a window partitioned by split alone,
        # ordering directly on (fp_md5, doc_id)
        assert not re.search(
            r"windowspecdefinition\(split#\d+, fp_md5#", plan
        ), (name, plan[:1500])


def test_lsh_candidate_pairs_single_corpus_pass(spark, sf_dir):
    """lsh_candidate_pairs computes MinHash signatures ONCE: pair
    generation is in-bucket (groupBy band key + sorted collect_list +
    i<j slicing), not a bands self-join — the round-4 verdict's one
    perf-weak plan paid the 64-seed signature projection in TWO
    documents scans because Catalyst duplicates a self-joined
    subtree. Pin: exactly one scan, and no join at all before the
    pair explode."""
    from flink_engagement_pipeline_spark.llm.dedup import lsh_candidate_pairs
    from flink_engagement_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        lsh_candidate_pairs(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert "SortMergeJoin" not in plan and "HashJoin" not in plan, plan[:2000]


def test_portable_minhash_pairs_single_signature_pass(spark, sf_dir):
    """portable_minhash_pairs splits into a candidate job and a verify
    plan (round-7 probe restructure): the candidate set materializes
    ONCE at build (localCheckpoint — so the 16-seed affine signature
    is paid exactly once, never duplicated into a self-join), and the
    RETURNED plan is the verify only — it reads the checkpointed
    pairs (Scan ExistingRDD), semi-prunes both shingle-array sides to
    the candidate ids (two parquet scans, broadcast LeftSemi), and
    must contain NO signature projection and NO SortMergeJoin (the
    shape that shuffled the whole corpus's arrays — 3.35 GB at 1M
    docs — before the fix)."""
    from flink_engagement_pipeline_spark.llm.dedup import (
        portable_minhash_pairs,
    )
    from flink_engagement_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        portable_minhash_pairs(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 2, plan[:2000]
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert "LeftSemi" in plan, plan[:2000]
    # the affine-signature modulus must NOT appear: the signature ran
    # once inside the checkpointed candidate job, not in the verify
    assert plan.count("2305843009213693951") == 0, (
        "signature expressions leaked into the verify plan"
    )
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_events_partitioned_prune_plan(spark, sf_dir, tmp_path):
    """The partitioned round-trip must prune at planning time: the
    re-read scan shows a PartitionFilters entry on event_type and
    touches exactly ONE partition directory's files — reading all
    five and filtering rows would be the broken-at-100-TB shape."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.sources.tables import load_table

    out = str(tmp_path / "events_by_type")
    load_table(spark, sf_dir, "events").write.partitionBy(
        "event_type"
    ).parquet(out)
    clicks = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = clicks._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan, plan[:1500]
    # pruning proof at execution: every file actually touched lives in
    # the click partition directory (inputFiles() would list the whole
    # relation pre-filter, so ask the executed rows instead)
    files = [
        r[0]
        for r in clicks.select(F.input_file_name()).distinct().collect()
    ]
    assert files and all("event_type=click" in f for f in files), files[:5]


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Joining a partitioned fact against a filtered dim on the
    partition column must inject a dynamic-pruning subquery: the fact
    scan waits for the dim filter's values and lists only matching
    partitions — at 100 TB this is the difference between scanning
    one day and scanning the table. Spark plans it as
    `dynamicpruningexpression` on the fact scan's PartitionFilters."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.sources.tables import load_table

    out = str(tmp_path / "events_by_type")
    load_table(spark, sf_dir, "events").write.partitionBy(
        "event_type"
    ).parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 5.0)],
        "event_type string, weight double",
    ).filter(F.col("weight") > 2.0)  # planner can't fold this statically
    joined = fact.join(dim, "event_type").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_registered_bucketed_join_colocated(spark, sf_dir):
    """The REGISTERED lineitem_bucketed_join must plan the co-located
    SortMergeJoin its docstring claims: the MERGE hint overrides the
    fixture-scale broadcast preference, and the 8-way bucket layout
    means the whole plan — scans, sorts, join, and the final
    aggregation riding the same partitioning — carries ZERO Exchange
    nodes. (Round-5 verdict: an earlier, shadowed version of this test
    asserted this of a hint-less query whose actual plan broadcast the
    orders side; the assertion now runs and the plan now matches.)
    Asserted on node names over the whole executed plan, not on
    string-slicing around the join operator."""
    import re

    from flink_engagement_pipeline_spark.plans.registry import REGISTRY

    df = REGISTRY["lineitem_bucketed_join"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan, plan[:2000]
    # the ONLY Exchange in the whole plan is the final aggregation's
    # regroup on o_orderpriority — the join itself rides the bucket
    # partitioning, so neither join input shuffles
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert exchanges == ["o_orderpriority"], (exchanges, plan[:2000])
    assert "BroadcastExchange" not in plan, plan[:2000]
    # both scans read the bucketed layout (8 buckets each)
    assert plan.count("SelectedBucketsCount: 8 out of 8") == 2, plan[:3000]


def test_jaccard_single_corpus_pass(spark, sf_dir):
    """ngram_jaccard_pairs reads the corpus ONCE: set sizes ride the
    exploded shingle rows instead of a second scan+shingle pass with
    broadcast size-attach joins — the plan must contain exactly one
    documents scan and no broadcast at all."""
    from flink_engagement_pipeline_spark.llm.dedup import ngram_jaccard_pairs
    from flink_engagement_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        ngram_jaccard_pairs(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert "BroadcastExchange" not in plan, plan[:2000]


def test_span_dedup_two_shuffles_no_join(spark, sf_dir):
    """docs_span_dedup shares the Jaccard shuffle discipline: span
    document-frequency via count-over-window on the gram exchange,
    then one doc_id aggregation — exactly two hash exchanges, no join,
    one corpus scan."""
    import re

    plan = (
        REGISTRY["docs_span_dedup"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert len(exchanges) == 2, exchanges
    assert "Join" not in plan, plan[:1500]
    assert plan.count("Scan parquet") == 1


def test_tokenize_ids_broadcast_vocab(spark, sf_dir):
    """docs_tokenize_ids maps the corpus through ONE broadcast hash
    join against the bounded vocabulary — the corpus side must never
    shuffle for the id lookup."""
    plan = (
        REGISTRY["docs_tokenize_ids"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]


def test_salted_sum_two_phase(spark, sf_dir):
    """events_salted_sum aggregates in two phases: the first exchange
    is keyed by (key, salt) — the hot key spreads over n_salts
    reducers — and the final per-key reduce follows."""
    import re

    plan = (
        REGISTRY["events_salted_sum"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", plan)
    assert any("__salt" in e for e in exchanges), exchanges


def test_fan_out_noop_on_well_partitioned_input(spark, sf_dir, tmp_path):
    """fan_out is a local-small-file fix, not a shuffle tax: on input
    that already has >= min_factor * defaultParallelism splits it must
    return the SAME plan (no round-robin Exchange added). The earlier
    outputPartitioning()-based guard read 0 partitions for any file
    scan and repartitioned unconditionally."""
    from flink_engagement_pipeline_spark.operators.util import fan_out
    from flink_engagement_pipeline_spark.sources.tables import load_table

    target = spark.sparkContext.defaultParallelism
    wide = str(tmp_path / "wide.parquet")
    load_table(spark, sf_dir, "events").repartition(target).write.parquet(wide)
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        # stop the scan bin-packing the small files into one split, so
        # the read genuinely arrives as a multi-split input
        spark.conf.set(keys[0], "65536")
        spark.conf.set(keys[1], "0")
        df = spark.read.parquet(wide)
        n_in = df._jdf.queryExecution().toRdd().getNumPartitions()
        assert n_in >= target * 0.5, f"fixture setup produced {n_in} splits"
        out = fan_out(df)
        assert out is df  # identical object: no repartition node added
        # belt-and-braces: the executed plan carries no round-robin
        # Exchange either (the shuffle fan_out would have added)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" not in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    # and the single-split fixture still fans out
    narrow = load_table(spark, sf_dir, "events")
    fanned = fan_out(narrow)
    assert fanned is not narrow
    assert fanned._jdf.queryExecution().toRdd().getNumPartitions() == target


def test_fixture_column_drift_guard(spark, tmp_path):
    """A fixture missing a declared column must raise by name, not
    silently yield NULL columns — the driver regenerates fixtures
    between rounds (the ts unit has already changed once)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from flink_engagement_pipeline_spark.sources.tables import load_table

    pq.write_table(
        pa.table({"doc_id": [1], "renamed_text": ["x"]}),
        str(tmp_path / "documents.parquet"),
    )
    with _pytest.raises(ValueError, match="lacks declared column"):
        load_table(spark, str(tmp_path), "documents")


def test_bucketed_join_no_exchange(spark, sf_dir, tmp_path):
    """Bucketing discipline: two tables bucketed AND sorted on the join
    key join with ZERO Exchange and ZERO Sort — the co-located
    fact-fact join pattern. At 100 TB this is the difference between a
    full two-sided shuffle of the biggest tables per join and a
    partition-local merge; the one-time bucketed write amortizes over
    every downstream join on that key."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.sources.tables import load_table

    wh_before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    order_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    order_before = spark.conf.get(order_key, "false")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    try:
        # report per-bucket sortedness from the scan (off by default
        # since SPARK-28632 because of its file-listing cost; with one
        # file per bucket it is exactly what we wrote)
        spark.conf.set(order_key, "true")
        # one writer task per bucket => exactly one file per bucket,
        # the precondition for the scan to expose per-bucket sortedness
        # (multi-file buckets are only sorted per file, so Spark would
        # re-Sort before the merge join)
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_quantity", "l_extendedprice")
            .repartition(8, F.col("l_orderkey"))
            .write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable("li_bucketed")
        )
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice")
            .repartition(8, F.col("o_orderkey"))
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable("ord_bucketed")
        )
        # forbid broadcast so the test exercises the co-located path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("li_bucketed").join(
            spark.table("ord_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Sort" not in plan.replace("SortMergeJoin", "SMJ"), plan
        # and it still computes the right thing
        expect = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", wh_before)
        spark.conf.set(order_key, order_before)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_jdbc_scan_options_partitioning_discipline():
    """S3: the JDBC dim scan must be partitioned or loudly refuse —
    a half-specified partitioning silently degrades to one connection."""
    import pytest as _pytest

    from flink_engagement_pipeline_spark.sources.jdbc import jdbc_scan_options

    opts = jdbc_scan_options(
        "jdbc:postgresql://db/engagement",
        "content_dim",
        partition_column="content_id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=16,
    )
    assert opts["partitionColumn"] == "content_id"
    assert (opts["lowerBound"], opts["upperBound"]) == ("0", "1000000")
    assert opts["numPartitions"] == "16"
    assert int(opts["fetchsize"]) >= 1000  # never driver-default row buffering

    with _pytest.raises(ValueError, match="lower_bound"):
        jdbc_scan_options("jdbc:x", "t", partition_column="id")
    with _pytest.raises(ValueError, match="upper_bound"):
        jdbc_scan_options(
            "jdbc:x", "t", partition_column="id", lower_bound=5, upper_bound=5
        )
    with _pytest.raises(ValueError, match="no effect"):
        jdbc_scan_options("jdbc:x", "t", num_partitions=4)
    # an explicit num_partitions equal to the old default (8) must ALSO
    # refuse — None, not a magic int, is the no-partitioning sentinel
    with _pytest.raises(ValueError, match="no effect"):
        jdbc_scan_options("jdbc:x", "t", num_partitions=8)


def test_pack_sequences_single_exchange(spark, sf_dir):
    """Sequence packing must be one shuffle (the lang window) — a
    second Exchange would mean the running sum re-partitions."""
    plan = _plan(spark, sf_dir, "docs_pack_sequences")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_contamination_no_cartesian(spark, sf_dir):
    """Decontamination joins exploded grams on the 64-bit hash —
    an equi-join, never an all-pairs comparison."""
    plan = _plan(spark, sf_dir, "docs_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lone_late_suppliers_all_equi_joins(spark, sf_dir):
    """q21-style quantifier decomposition must stay equi-join
    (semi/anti with the <> residual), never nested-loop."""
    plan = _plan(spark, sf_dir, "lone_late_suppliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_datagen_domains_and_determinism(spark):
    """§3.3 workload generator: reference value domains (datagen.py
    55-59 / init.sql CHECK constraints) and bit-identical
    regeneration — the distributed-rebuild property."""
    from flink_engagement_pipeline_spark.sources import datagen as dg

    content = dg.gen_content(spark, 50)
    rows = content.collect()
    assert len(rows) == 50
    assert {r["content_type"] for r in rows} <= set(dg.CONTENT_TYPES)
    assert all(60 <= r["length_seconds"] <= 3600 for r in rows)

    ev = dg.gen_events(spark, 2000, partitions=8)
    rows = ev.collect()
    assert len(rows) == 2000
    assert {r["event_type"] for r in rows} == set(dg.EVENT_TYPES)
    assert {r["device"] for r in rows} <= set(dg.DEVICES)
    for r in rows:
        if r["event_type"] in ("play", "finish"):
            assert 1000 <= r["duration_ms"] <= 300000
        else:
            assert r["duration_ms"] is None
        assert r["raw_payload"].startswith('{"metadata":')
    # determinism across regeneration AND different partitioning
    again = sorted(map(tuple, dg.gen_events(spark, 2000, partitions=3).collect()))
    assert sorted(map(tuple, rows)) == again
    # timestamps spaced at the declared rate (10/s -> 100ms apart)
    by_id = sorted(rows, key=lambda r: r["event_id"])
    delta = by_id[1]["ts"] - by_id[0]["ts"]
    assert delta.total_seconds() == 0.1


def test_datagen_rate_exact_no_drift(spark):
    """Non-divisor rates must not drift: offset(id) = (id*1e6) DIV rate
    exactly, so id=7000 at 7/s sits at precisely 1000s — a fixed
    142857µs step would have accumulated 1ms of lag by then. Rates the
    µs grid cannot represent must refuse."""
    import datetime

    import pytest as _pytest

    from flink_engagement_pipeline_spark.sources import datagen as dg

    ev = dg.gen_events(spark, 7001, events_per_second=7)
    by_id = {r["event_id"]: r["ts"] for r in ev.select("event_id", "ts").collect()}
    start = by_id[0]
    for i in (1, 6, 7, 6999, 7000):
        expect_us = (i * 1_000_000) // 7
        got = (by_id[i] - start) / datetime.timedelta(microseconds=1)
        assert got == expect_us, f"id={i}: {got} != {expect_us}"
    with _pytest.raises(ValueError, match="events_per_second"):
        dg.gen_events(spark, 10, events_per_second=2_000_000)
    with _pytest.raises(ValueError, match="events_per_second"):
        dg.gen_events(spark, 10, events_per_second=0)


def test_python_datasource_batch_and_stream(spark, tmp_path):
    """Custom source connector via the Spark 4 Python DataSource API
    (sources/pyds.py): schema as declared, option-controlled row count
    and partitioning, bit-identical regeneration across reads, and the
    same rows through the streaming form (offset-tracked micro-batches
    into an exactly-once-friendly append)."""
    from flink_engagement_pipeline_spark.sources.pyds import (
        EngagementGenDataSource,
    )

    spark.dataSource.register(EngagementGenDataSource)
    df = (
        spark.read.format("engagement_gen")
        .option("n", 500)
        .option("partitions", 4)
        .load()
    )
    assert df.columns == [
        "event_id", "ts", "user_id", "content_id", "event_type",
        "duration_ms", "device", "raw_payload",
    ]
    rows = df.collect()
    assert len(rows) == 500
    assert df.rdd.getNumPartitions() == 4
    again = spark.read.format("engagement_gen").option("n", 500).option(
        "partitions", 7
    ).load().collect()
    # same ids -> same rows regardless of partitioning
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # value domains hold
    from flink_engagement_pipeline_spark.sources.datagen import (
        DEVICES, EVENT_TYPES,
    )
    for r in rows:
        assert r["event_type"] in EVENT_TYPES
        assert r["device"] in DEVICES
        assert (r["duration_ms"] is None) == (
            r["event_type"] in ("pause", "click")
        )
    # streaming form: micro-batches of 100 contiguous ids from the
    # tracked offset; collect a few batches and stop
    got_rows: list = []

    def _fb(bdf, _bid):
        got_rows.extend(map(tuple, bdf.collect()))

    q = (
        spark.readStream.format("engagement_gen")
        .option("batch_rows", 100)
        .load()
        .writeStream.foreachBatch(_fb)
        .option("checkpointLocation", str(tmp_path / "pyds-ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    import time as _t

    deadline = _t.time() + 60
    while _t.time() < deadline and len(got_rows) < 200:
        _t.sleep(1)
    q.stop()
    assert len(got_rows) >= 200
    batch_same = [
        tuple(r)
        for r in spark.read.format("engagement_gen")
        .option("n", len(got_rows))
        .load()
        .collect()
    ]
    # the stream emitted exactly ids [0, n) — identical rows
    assert sorted(got_rows) == sorted(batch_same)


def test_zorder_key_no_shuffle_and_layout_range_clusters(spark, sf_dir):
    """The Z-order KEY is a pure projection (no Exchange anywhere in
    events_zorder), and zorder_layout plans exactly one
    range-partitioning exchange plus a partition-local sort — the
    clustered-write shape; no extra round-robin or hash shuffle."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.operators.layout import zorder_layout
    from flink_engagement_pipeline_spark.sources.tables import load_table

    key_plan = _plan(spark, sf_dir, "events_zorder")
    assert "Exchange" not in key_plan, key_plan[:1500]

    ev = load_table(spark, sf_dir, "events")
    x = F.col("user_id").bitwiseAND(F.lit(65535))
    y = (F.hour("ts").cast("long") * 60 + F.minute("ts").cast("long")).bitwiseAND(
        F.lit(65535)
    )
    plan = (
        zorder_layout(ev, x, y)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning(zkey" in plan, plan[:2000]
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "Sort [zkey" in plan, plan[:2000]


def test_dynamic_partition_overwrite_replaces_only_touched(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite (the warehouse backfill primitive):
    with partitionOverwriteMode=dynamic, INSERT OVERWRITE replaces
    ONLY the partitions present in the incoming frame — static mode
    would truncate the whole table, which at 100 TB turns a one-day
    backfill into a full rewrite."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    tbl = str(tmp_path / "ev_by_type")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(tbl)
    before = {
        r["event_type"]: (r["n"], float(r["s"]))
        for r in spark.read.parquet(tbl)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert len(before) >= 2
    target = sorted(before)[0]
    patch = (
        ev.filter(F.col("event_type") == target)
        .withColumn("value", F.lit(0.0))
    )
    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patch.write.partitionBy("event_type").mode("overwrite").parquet(tbl)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)
    after = {
        r["event_type"]: (r["n"], float(r["s"]))
        for r in spark.read.parquet(tbl)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    # untouched partitions byte-identical in aggregate; target rewritten
    for t, stats in before.items():
        if t == target:
            assert after[t] == (stats[0], 0.0)
        else:
            assert after[t] == stats


def test_portable_band_index_is_projection_only(spark, sf_dir):
    """The portable-MinHash band index must build with ZERO shuffles:
    signature = array_min over per-shingle transforms (a projection),
    bands = explode (partition-preserving). The band equi-join
    downstream is the pipeline's only exchange."""
    from flink_engagement_pipeline_spark.llm.dedup import (
        portable_band_index,
        portable_base,
    )
    from flink_engagement_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        portable_band_index(portable_base(docs))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # fan_out may add its small-file round-robin repartition locally;
    # beyond that the index build must not exchange
    assert plan.count("Exchange") <= 1, plan[:2000]
    assert "HashAggregate" not in plan, plan[:2000]


def test_retract_agg_single_scan_single_shuffle(spark, sf_dir):
    """cdc_retract_agg's whole pipeline — changelog synthesis, JSON
    envelope round-trip, signed-contribution explode, grouped sum —
    must stay ONE scan of events with map-side partial aggregation
    and ONE shuffle on the group key: both contributions are built
    per change row and filtered inside the array BEFORE the explode,
    so no self-join, no second pass, no per-key window."""
    from flink_engagement_pipeline_spark.plans.registry import REGISTRY

    plan = (
        REGISTRY["cdc_retract_agg"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert "Join" not in plan and "Window" not in plan, plan[:2000]
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "partial_sum" in plan, plan[:2000]


def test_audience_overlap_two_scans_no_re_mix(spark, sf_dir):
    """audience_overlap's sketch branch derives per-set AND union
    registers from ONE events scan (the explode carries each row into
    both sketches); the exact-distinct branch is the only other scan.
    A per-set + separate-union formulation would show three."""
    plan = (
        REGISTRY["audience_overlap"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 2, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_cep_single_scan_single_shuffle_stacked_windows(spark, sf_dir):
    """cep_conversion_within must stay the no-join CEP shape: ONE
    events scan, ONE Exchange on user_id, the cumulative-sum and both
    carry-forward Windows stacked on the same partitioning, and the
    final per-user aggregate riding the preserved partitioning with a
    map-side partial (no second shuffle)."""
    plan = _plan(spark, sf_dir, "cep_conversion_within")
    assert plan.count("FileScan") == 1, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert plan.count("Window") == 3, plan[:2000]
    assert "partial_count" in plan, plan[:2000]


def test_plan_build_latency_bounded(spark, sf_dir):
    """Regression pin for the round-5 py4j plan-build campaign: any
    operator assembling O(64+) expression nodes in a Python loop pays
    seconds of driver py4j traffic PER PLAN BUILD (measured pre-fix:
    embedding_near_dup 7.9 s, simhash 1.9 s, the 64-seed MinHash
    signature 0.8-2 s — and the driver/bench rebuilds the DataFrame
    every run). The fix builds those expressions as single parsed SQL
    strings (F.expr / selectExpr), post-fix builds run 0.2-0.7 s.
    This test times DataFrame CONSTRUCTION + analysis (touching
    .columns forces the analyzed plan) for every query the campaign
    covered and asserts min-of-2 under a bound that pre-fix code
    misses by 3-10x but host noise cannot reach. Trainer queries
    (kmeans/PQ/IVF) are excluded — their builds intentionally run
    collect() jobs (seeds/codebooks), which is execution, not
    plan-build overhead."""
    import time

    from flink_engagement_pipeline_spark.plans.registry import REGISTRY

    heavy = [
        "docs_minhash_pairs",    # 64-seed xxhash signature + 16 bands
        "docs_simhash_pairs",    # 60-bit per-bit vote + 5 rotations
        "docs_jaccard_pairs",    # shingle explode + windowed sizes
        "cep_conversion_within", # chained carry-forward windows
        "embedding_mmr_rerank",  # k-step greedy fold, nested HOFs
        # docs_minhash_portable / docs_minhash_ingest moved to the
        # trainer-style exclusion in round 7: their builds now
        # intentionally run the candidate job (localCheckpoint before
        # the semi-pruned verify — llm/dedup.py:_semi_prune), which is
        # execution, not plan-build overhead.
        # embedding_near_dup joined the same exclusion in round 9: the
        # round-8 broadcast-gate fix threaded a cand.count() through
        # its build (llm/similarity.py:neardup_pairs_from_index), so
        # its "build" time is candidate-job execution too — measured
        # 2.5-2.8 s on this host old AND new code, tripping the 2.5 s
        # bound on host-speed drift, not a plan-build regression (the
        # 128 hyperplane projections it pinned are still covered:
        # _neardup_tables_sql builds one parsed string, and
        # embedding_neardup_ingest shares it).
    ]
    # JVM/py4j warm-up so the first measured build isn't charged for
    # session setup
    REGISTRY["docs_exact_dedup"].spark(spark, sf_dir).columns
    worst = {}
    for name in heavy:
        best = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            REGISTRY[name].spark(spark, sf_dir).columns
            best = min(best, time.monotonic() - t0)
        worst[name] = best
    offenders = {n: round(t, 2) for n, t in worst.items() if t > 2.5}
    assert not offenders, f"plan builds regressed (pre-fix levels): {offenders}"


def test_ingest_queries_join_shapes(spark, sf_dir):
    """The incremental-ingest family's scale posture: candidate
    generation is always a bounded-key equi-join (hash or sort-merge,
    never nested-loop/cartesian), and the embedding ingest reads raw
    vectors only through id-keyed joins AFTER candidates exist — the
    index side never drags the vector column through the bucket
    join."""
    for name in ("docs_simhash_ingest", "embedding_neardup_ingest",
                 "docs_minhash_ingest"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert any(
            j in plan
            for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        ), name


def test_session_cep_one_shuffle_no_join(spark, sf_dir):
    """cep_session_conversion: sessionization (lag + prefix sum), the
    chained pattern carries, and the final aggregate all ride ONE
    hash partitioning on user_id — no joins anywhere."""
    plan = _plan(spark, sf_dir, "cep_session_conversion")
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert exchanges == ["user_id"], exchanges
    assert "Join" not in plan, plan[:2000]


def test_mmr_batch_plan_single_scan_two_qid_shuffles(spark, sf_dir):
    """embedding_mmr_batch's scale shape: the corpus parquet is
    scanned ONCE for the scored side (plus the broadcast 4-row query
    side), the pool window and the pool-packing aggregate both key on
    qid (the groupBy reuses the window's partitioning, so there is at
    most one real repartitioning of the scored rows), and the greedy
    stage is expression-only — no extra Exchange, no cartesian of the
    corpus against itself."""
    from flink_engagement_pipeline_spark.plans.registry import REGISTRY

    plan = (
        REGISTRY["embedding_mmr_batch"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 2  # corpus + broadcast queries
    exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert all("qid" in ln for ln in exchanges), exchanges
    assert len(exchanges) <= 2, exchanges


def test_cumulate_single_exchange(spark, sf_dir):
    """CUMULATE keeps HOP's scale property: ONE pre-explode shuffle
    (hash by key), the window-index Generate running after it with
    partitioning preserved — both aggregations satisfied by
    HashPartitioning(key)."""
    plan = _plan(spark, sf_dir, "cumulate_engagement")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_plan_snapshots_no_drift(spark):
    """PLANS.md pins the operator skeleton of every snapshotted plan
    (its own sections plus every bench=True query): the current plan's
    skeleton must equal the committed lines, so an operator added,
    removed or moved fails here until PLANS.md is regenerated with the
    reason in the commit. Every committed section must be a fixed point
    of skeleton(), so a full plan, an expression id or a temp path
    cannot be committed in its place. Builds every snapshotted plan at
    sf0.01."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_plans", os.path.join(root, "tools", "gen_plans.py")
    )
    gp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gp)

    committed = gp.parse_plans_md(gp.PLANS_MD)
    not_skeletons = [
        n for n, lines in committed.items()
        if gp.skeleton("\n".join(lines)) != lines
    ]
    assert not_skeletons == [], f"not a plan skeleton: {not_skeletons}"
    missing = [n for n in gp.snapshot_names(committed) if n not in committed]
    assert missing == [], f"no committed snapshot for {missing}"
    generated = gp.generate_skeletons(spark, committed)
    drifted = [n for n in committed if generated.get(n) != committed[n]]
    assert drifted == [], (
        f"plan skeleton drift in {drifted} — run tools/gen_plans.py "
        "--diff, decide intended-vs-regression, regenerate if intended"
    )


def test_registry_md_is_current():
    """REGISTRY.md is tools/gen_registry.py's rendering of the live
    REGISTRY, gate-window order included: a new query or a new
    CORRECTNESS record changes it. No Spark session."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_registry", os.path.join(REPO_ROOT, "tools", "gen_registry.py")
    )
    gr = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gr)
    with open(gr.OUT) as f:
        assert f.read() == gr.render(), "run python tools/gen_registry.py"
