"""Distributed global row numbering — the scale-out form of
``row_number() OVER (ORDER BY ...)``.

An unpartitioned window collapses to ONE task (Exchange SinglePartition
+ global sort) — the classic 100 TB scale-killer. The pattern here
keeps every step distributed:

1. draw a deterministic seeded sample of the order key, sort it on the
   driver, and freeze p-1 range boundaries as plan LITERALS;
2. assign each row a range id ``__pid`` by comparing its key against
   the literal boundaries — a pure per-row projection, no shuffle, and
   (crucially) a *deterministic function of the row*, so every pass
   recomputes identical assignments and nothing needs to be cached;
3. count rows per range (metadata-sized aggregate), cumulate into
   per-range offsets on the driver, broadcast back;
4. hash-partition by ``__pid`` (one Exchange), partition-local sort +
   ``row_number`` + offset = exact global row number.

Earlier revisions used ``repartitionByRange`` + ``.cache()``: Spark's
RangePartitioner samples with an RDD-id-derived seed, so the count pass
and the numbering pass could see different boundaries unless the ranged
relation was pinned — and a leaked session-lifetime cache at 100 TB is
the whole dataset. Literal boundaries remove the nondeterminism at the
source: zero persisted relations, assertable via
``getPersistentRDDs()`` (tests/test_plans.py). The cost is re-scanning
the (column-pruned) input per pass instead of caching it — the right
trade at scale, where a re-scan is cheap and a dataset-sized pin is
not. Boundary-sample skew only affects balance, never correctness: the
order must be TOTAL (include a tiebreak column), and ties compare
identically against the literals so equal keys always land in the same
range. The result is exactly ``row_number() OVER (ORDER BY ...)`` —
verified against the SQL oracle in the registered query.

One INTENTIONAL exception to the zero-persisted-relations claim lives
in a caller, not here: ``plans/queries_ext8.manifest_index_of`` pins a
lazy localCheckpoint of its narrow 4-column id frame before numbering,
because its input is an expensive derived join tree (the grouped
variant's docstring names that trade). Those pins are memoized per
semantic input plan (bounded FIFO, one per fixture in practice), so
repeated serves under the gate/bench reuse ONE checkpoint instead of
accumulating them; the memo and its pin test live next to the caller.

This is also the "assign stable sample indices to a corpus" primitive
an LLM data pipeline needs after shuffling/filtering (e.g. to address
training samples by position without a single-node sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SAMPLES_PER_PART = 20
_SEED = 42


def hex_prefix_pid(col: str, n_parts: int) -> Column:
    """Range id for an ordering whose LEADING column is a lowercase
    hex digest (md5 and friends): the first 4 hex chars scaled into
    ``n_parts`` buckets. The digest is uniform by construction, so the
    fixed arithmetic balances ranges as well as a boundary sample
    would — with ZERO metadata jobs (no count pass, no sample pass;
    r15, guide §2.4 fewer passes) and ONE parsed expression (never a
    k-boundary Column loop — the py4j plan-build tax the house rules
    name). Monotone non-decreasing in the digest (hex char order ==
    string order == numeric order), which is the only property the
    numbering device needs from a range id — offsets always come from
    the actual per-range counts, so values are unconditionally
    identical to the sampled form. NULL keys map to range 0,
    consistent with nulls-first ascending order. Any other key whose
    first 4 chars are not lowercase hex digits fails the query
    (``raise_error``): ``conv`` would read 'ZZZZ' as 0 and '12zz' as
    0x12, silently breaking the monotone order."""
    prefix = f"substring({col}, 1, 4)"
    # the outer coalesce keeps the id non-nullable, so joins on it
    # infer no extra IsNotNull filter
    return F.coalesce(
        F.expr(
            f"CASE WHEN {prefix} RLIKE '^[0-9a-f]{{4}}$'"
            f" THEN cast(cast(conv({prefix}, 16, 10) as bigint)"
            f" * {n_parts} div 65536 as int)"
            f" WHEN {col} IS NOT NULL THEN raise_error(concat("
            f"'hex_prefix_pid: key ', {col},"
            f" ' does not start with 4 lowercase hex digits')) END"
        ),
        F.lit(0),
    )


def _literal_range_pid(
    df: DataFrame, cols: list[Column], n_parts: int
) -> Column:
    """Steps 1-2 of the module device, factored so the grouped variant
    shares them: sample the order key, freeze p-1 boundaries as plan
    LITERALS, and return the range id as a pure per-row projection.
    Triggers two metadata-sized driver jobs (count, boundary sample)."""
    names = [f"f{i}" for i in range(len(cols))]
    key = F.struct(*[c.alias(a) for c, a in zip(cols, names)])

    n = df.count()
    boundaries: list = []
    if n > 0 and n_parts > 1:
        target = n_parts * _SAMPLES_PER_PART
        fraction = min(1.0, 1.2 * target / n)
        sample = sorted(
            tuple(r["k"]) for r in
            df.select(key.alias("k")).sample(False, fraction, seed=_SEED).collect()
        )
        if sample:
            step = len(sample) / n_parts
            picked = {sample[int(i * step)] for i in range(1, n_parts)}
            boundaries = sorted(picked)

    if not boundaries:
        return F.lit(0)
    # __pid = number of boundaries strictly below the key. NULL
    # struct comparisons coalesce to 0, so null-keyed rows land in
    # range 0 — consistent with Spark's nulls-first ascending sort.
    return sum(
        (
            F.coalesce(
                (
                    key
                    > F.struct(
                        *[F.lit(v).alias(a) for v, a in zip(b, names)]
                    )
                ).cast("int"),
                F.lit(0),
            )
            for b in boundaries
        ),
        F.lit(0),
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[Column | str],
    out: str = "row_num",
    num_partitions: int | None = None,
    pid_expr: Column | None = None,
) -> DataFrame:
    """Exact global 1-based row numbers under a TOTAL order, with no
    single-partition exchange and no persisted relation. Triggers two
    metadata-sized driver jobs (boundary sample, per-range counts)
    before returning the lazy numbered plan — one job when the caller
    supplies ``pid_expr``, a range id that is monotone non-decreasing
    in the order (e.g. :func:`hex_prefix_pid` over a digest key):
    uniform keys need no count or sample pass, and offsets still come
    from the actual per-range counts, so values are identical."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Field names are part of a struct's type: _literal_range_pid
    # aliases both the key and the boundary literals identically so
    # the comparison resolves.
    parted = df.withColumn(
        "__pid",
        pid_expr if pid_expr is not None
        else _literal_range_pid(df, cols, n_parts),
    )

    counts = dict(
        (r["__pid"], r["cnt"])
        for r in parted.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        [(p, off) for p, off in offsets.items()] or [(0, 0)], "__pid int, __off long"
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        parted.join(F.broadcast(off_df), "__pid")
        .withColumn(out, F.row_number().over(w) + F.col("__off"))
        .drop("__pid", "__off")
    )


def grouped_global_row_number(
    df: DataFrame,
    group_col: str,
    order_cols: list[Column | str],
    out: str = "row_num",
    num_partitions: int | None = None,
    pid_expr: Column | None = None,
) -> DataFrame:
    """``row_number() OVER (PARTITION BY group ORDER BY ...)`` for a
    LOW-CARDINALITY group column, with no group-sized sort task — the
    per-group extension of :func:`global_row_number` (the r11 verdict's
    weak finding: a 3-split manifest window sorts the whole corpus
    through 3 tasks, and WindowGroupLimit cannot prune a numbering that
    every row needs).

    Same literal-boundary device, one twist: boundaries are sampled
    over the WHOLE frame (they only steer balance), while counts and
    offsets are keyed by (group, range id). Correctness per group is
    unconditional — within a group, every key in range p compares above
    every key in range p-1 against the SAME literals, and ties land in
    the same range — so partition-local numbering plus the group's
    cumulative offsets is exactly the per-group row number. Parallelism
    is groups x ranges instead of groups; the offsets table
    (groups x ranges rows — metadata) rides a broadcast join.

    The order must be TOTAL within each group (include a tiebreak
    column); the group column may be NULL — the offsets join compares
    null-safely, so NULL is simply one more group (consistent with
    ``PARTITION BY``, which puts all NULLs in one partition). As with
    the global form, range assignment is a pure
    function of the row: no cached relation, every pass recomputes
    identical ranges. Callers whose input is an expensive DERIVED
    subtree (not a parquet scan) should cut lineage first — the device
    scans its input three times (count, boundary sample + per-group
    counts, numbering), which is the right trade for a re-scannable
    source and the wrong one for a 12-second join tree. Supplying
    ``pid_expr`` (a range id monotone in the order —
    :func:`hex_prefix_pid` for digest keys) drops the count and
    sample passes: one metadata job (per-group counts) before the
    lazy numbered plan."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.withColumn(
        "__pid",
        pid_expr if pid_expr is not None
        else _literal_range_pid(df, cols, n_parts),
    )

    counts = (
        parted.groupBy(group_col, "__pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    per_group: dict = {}
    for r in counts:
        per_group.setdefault(r[group_col], {})[r["__pid"]] = r["cnt"]
    rows = []
    for g, pids in per_group.items():
        acc = 0
        for p in sorted(pids):
            rows.append((g, p, acc))
            acc += pids[p]
    spark = df.sparkSession
    from pyspark.sql.types import LongType, IntegerType, StructField, StructType

    off_schema = StructType(
        [
            StructField("__grp", df.schema[group_col].dataType),
            StructField("__pid", IntegerType()),
            StructField("__off", LongType()),
        ]
    )
    off_df = spark.createDataFrame(rows or [(None, 0, 0)], off_schema)
    w = Window.partitionBy(group_col, "__pid").orderBy(*cols)
    return (
        parted.join(
            F.broadcast(off_df),
            # eqNullSafe: the counts pass collects NULL-group rows, so
            # the offsets join must match them too (a plain equality
            # would silently drop every NULL-group row — r12 ADVICE)
            F.col(group_col).eqNullSafe(F.col("__grp"))
            & (parted["__pid"] == off_df["__pid"]),
        )
        .drop(off_df["__pid"])
        .withColumn(out, F.row_number().over(w) + F.col("__off"))
        .drop("__pid", "__off", "__grp")
    )
