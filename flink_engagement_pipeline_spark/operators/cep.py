"""CEP / MATCH_RECOGNIZE-style pattern matching over DataFrames.

Reference parity: Flink exposes complex-event processing as
MATCH_RECOGNIZE / the CEP library; the reference pipeline
(saqqaf/flink-engagement-pipeline) runs on engagement streams where
the canonical CEP question is an ordered per-user sequence inside a
time window with negation ("view then click then purchase within 48 h
with no error in between"). Round 5 proved that shape as ONE
hand-built query (`cep_conversion_within`); this module is the
round-6 generalization: a declarative pattern spec compiled to the
same plan device, so a second pattern is a five-line spec instead of
a copy-paste.

The compilation target (unchanged from the proven query, see
plans/queries_ext4.py): NO joins and NO state machine —

- one shuffle partitioning events by the match key, ordered by
  (ts, tiebreak);
- an integer prefix-sum per COUNT CONSTRAINT (negation is the
  count == 0 special case);
- per intermediate step, chained ``last(expr, ignorenulls=True)``
  carry-forwards over the PRECEDING-exclusive frame: step i's rows
  re-publish the latest step-(i-1) chain state, so the final step's
  rows see the whole greedy last-before binding;
- the final step is a plain filter: all carries bound, the
  first-to-last gap inside ``within``, and each count constraint's
  prefix-sum difference inside its [min, max] band.

Per-row carried state is O(pattern length) longs, so the plan is the
same at 100 TB: per-key sequences ride single partitions, Spark's
window buffer spills, and nothing is driver-side.

Semantics notes (shared by both engines, pinned by unit tests):
- GREEDY LAST-BEFORE binding: each step-i row binds the latest
  step-(i-1) chain strictly before it — the "skip to last" variant of
  MATCH_RECOGNIZE's after-match semantics, one match row per
  final-step event.
- Count constraints (and negation, their ==0 case) apply over
  (first step, final step]: a hit ON the final row itself counts, a
  hit on the first-step row does not (its prefix-sum at the first
  step already includes it).
- ``within`` bounds ts(final) - ts(first), inclusive.

Every compiled pattern has a token-equivalent SQL twin
(:func:`pattern_oracle_sql`) generated from the SAME spec, so the
Spark plan and the DuckDB oracle cannot drift — the discipline every
approximate family in this repo follows (portable MinHash, PQ, HLL).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@dataclass(frozen=True)
class PatternStep:
    """One ordered step: ``predicate`` is a boolean SQL expression over
    the event columns, valid in BOTH Spark SQL and DuckDB (stick to
    ANSI comparisons; both dialects share them)."""

    name: str
    predicate: str


@dataclass(frozen=True)
class CountConstraint:
    """Bound the number of events matching ``predicate`` strictly
    between the bound first step and the final step (final row
    inclusive): ``min_count <= n <= max_count`` (``max_count`` None =
    unbounded). The MATCH_RECOGNIZE quantifier class — e.g. "at least
    two clicks before the purchase" — compiled to one integer
    prefix-sum, carried like everything else."""

    predicate: str
    min_count: int = 0
    max_count: int | None = None


@dataclass(frozen=True)
class Pattern:
    """An ordered-event pattern: steps in order, an optional time
    window over the whole sequence (in ``ts_col`` units), an optional
    negation predicate (sugar for ``CountConstraint(pred, 0, 0)``),
    and optional count constraints."""

    steps: tuple[PatternStep, ...]
    within: int | None = None
    negation: str | None = None
    counts: tuple[CountConstraint, ...] = field(default=())

    def __post_init__(self) -> None:
        if len(self.steps) < 2:
            raise ValueError("a pattern needs at least two steps")
        names = [s.name for s in self.steps]
        if len(set(names)) != len(names):
            raise ValueError(f"step names must be unique: {names}")

    def count_specs(self) -> tuple[CountConstraint, ...]:
        """All count constraints, with negation desugared to its
        count == 0 form. ONE list drives both compile targets."""
        specs = tuple(self.counts)
        if self.negation is not None:
            specs += (CountConstraint(self.negation, 0, 0),)
        return specs


def match_pattern(
    events: DataFrame,
    pattern: Pattern,
    *,
    partition_by: str,
    ts_col: str,
    tiebreak: Sequence[str] = (),
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Match ``pattern`` over ``events``; one output row per final-step
    event that completes it, with columns: ``partition_by``, one
    ``<step>_ts`` per step (the matched event's ``ts_col``), and
    ``latency`` = final ts - first ts.

    ``ts_col`` must be a totally-orderable integer (epoch micros is
    the house convention — no session-TZ exposure); ``tiebreak``
    breaks ts collisions to make binding deterministic.

    ``carry_cols``: extra event columns captured AT the bound
    first-step row and carried through the chain to the match row,
    output as ``<first_step>_<col>`` alongside the final row's own
    value as ``<final_step>_<col>`` — the device that expresses
    session-scoped patterns (carry the first step's session id, demand
    equality with the match row's) and any other
    same-attribute-across-the-sequence constraint, without touching
    the operator's plan shape (each carried column is one more long of
    per-row state).
    """
    steps = pattern.steps
    k = len(steps)
    qspecs = pattern.count_specs()
    order = Window.partitionBy(partition_by).orderBy(ts_col, *tiebreak)
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = order.rowsBetween(Window.unboundedPreceding, -1)

    base_cols = list(events.columns)
    df = events
    for q, spec in enumerate(qspecs):
        df = df.withColumn(
            f"__cep_q{q}",
            F.sum(
                F.when(F.expr(spec.predicate), 1).otherwise(0)
            ).over(cum).cast("long"),
        )
        base_cols.append(f"__cep_q{q}")

    def carry(pred: str, src: Column, out: str) -> Column:
        return (
            F.last(F.when(F.expr(pred), src), ignorenulls=True)
            .over(prev)
            .alias(out)
        )

    # level i (1-based, steps[0..k-2]): rows re-publish the latest
    # step-i chain state — its own ts, every earlier step's ts as bound
    # AT that step-i row, the first step's count prefix-sums, carries
    for i in range(1, k):
        pred = steps[i - 1].predicate
        carries = [carry(pred, F.col(ts_col), f"__cep_ts{i}")]
        rebound = set()
        for j in range(1, i):
            carries.append(carry(pred, F.col(f"__cep_ts{j}"), f"__cep_ts{j}"))
            rebound.add(f"__cep_ts{j}")
        for q in range(len(qspecs)):
            src = F.col(f"__cep_q{q}") if i == 1 else F.col(f"__cep_q{q}_s1")
            carries.append(carry(pred, src, f"__cep_q{q}_s1"))
            if i > 1:
                rebound.add(f"__cep_q{q}_s1")
        for col in carry_cols:
            src = F.col(col) if i == 1 else F.col(f"__cep_c_{col}")
            carries.append(carry(pred, src, f"__cep_c_{col}"))
            if i > 1:
                rebound.add(f"__cep_c_{col}")
        # re-bound carries are produced fresh by this level's window
        # expressions (which read the INPUT row's values), so they must
        # not also pass through, or the output would duplicate names
        carry_names = [f"__cep_ts{j}" for j in range(1, i + 1)]
        carry_names += [f"__cep_q{q}_s1" for q in range(len(qspecs))]
        carry_names += [f"__cep_c_{col}" for col in carry_cols]
        df = df.select(
            *[c for c in base_cols if c not in rebound], *carries
        )
        base_cols = [c for c in base_cols if c not in rebound] + carry_names

    cond = F.expr(steps[-1].predicate)
    for j in range(1, k):
        cond = cond & F.col(f"__cep_ts{j}").isNotNull()
    if pattern.within is not None:
        cond = cond & (F.col(ts_col) - F.col("__cep_ts1") <= pattern.within)
    for q, spec in enumerate(qspecs):
        diff = F.col(f"__cep_q{q}") - F.col(f"__cep_q{q}_s1")
        cond = cond & (diff >= spec.min_count)
        if spec.max_count is not None:
            cond = cond & (diff <= spec.max_count)

    out = [F.col(partition_by)]
    out += [
        F.col(f"__cep_ts{j}").alias(f"{steps[j - 1].name}_ts")
        for j in range(1, k)
    ]
    out.append(F.col(ts_col).alias(f"{steps[-1].name}_ts"))
    out.append((F.col(ts_col) - F.col("__cep_ts1")).alias("latency"))
    for col in carry_cols:
        out.append(F.col(f"__cep_c_{col}").alias(f"{steps[0].name}_{col}"))
        out.append(F.col(col).alias(f"{steps[-1].name}_{col}"))
    return df.filter(cond).select(*out)


def pattern_oracle_sql(
    pattern: Pattern,
    *,
    source_sql: str,
    partition_by: str,
    ts_col: str,
    tiebreak: Sequence[str] = (),
    carry_cols: Sequence[str] = (),
) -> str:
    """The DuckDB twin of :func:`match_pattern`, generated from the
    SAME spec: identical CTE chain (count prefix-sums, per-level
    ``last_value IGNORE NULLS`` carries over the PRECEDING-exclusive
    frame, final filter). ``source_sql`` must yield the same rows and
    columns the Spark side's ``events`` DataFrame has. Returns a full
    SELECT producing (partition, <step>_ts..., latency[, carried
    cols]), one row per match — wrap it in any aggregation the
    registered query needs."""
    steps = pattern.steps
    k = len(steps)
    qspecs = pattern.count_specs()
    over = (
        f"PARTITION BY {partition_by} ORDER BY "
        + ", ".join([ts_col, *tiebreak])
    )
    prev = f"{over} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    cum = f"{over} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

    ctes = [f"__cep_ev AS ({source_sql})"]
    prev_level = "__cep_ev"
    if qspecs:
        sums = ", ".join(
            f"CAST(sum(CASE WHEN {spec.predicate} THEN 1 ELSE 0 END) "
            f"OVER ({cum}) AS BIGINT) AS __cep_q{q}"
            for q, spec in enumerate(qspecs)
        )
        ctes.append(f"__cep_seq AS (SELECT *, {sums} FROM __cep_ev)")
        prev_level = "__cep_seq"

    def carry_sql(pred: str, src: str, out: str) -> str:
        return (
            f"last_value(CASE WHEN {pred} THEN {src} END IGNORE NULLS) "
            f"OVER ({prev}) AS {out}"
        )

    for i in range(1, k):
        pred = steps[i - 1].predicate
        exprs = [carry_sql(pred, ts_col, f"__cep_ts{i}")]
        for j in range(1, i):
            exprs.append(carry_sql(pred, f"__cep_ts{j}", f"__cep_ts{j}"))
        for q in range(len(qspecs)):
            src = f"__cep_q{q}" if i == 1 else f"__cep_q{q}_s1"
            exprs.append(carry_sql(pred, src, f"__cep_q{q}_s1"))
        for col in carry_cols:
            src = col if i == 1 else f"__cep_c_{col}"
            exprs.append(carry_sql(pred, src, f"__cep_c_{col}"))
        # star-minus the carries being rebound: DuckDB supports
        # EXCLUDE, which keeps the generated text short and exact
        excluded = [f"__cep_ts{j}" for j in range(1, i)]
        if i > 1:
            excluded += [f"__cep_q{q}_s1" for q in range(len(qspecs))]
            excluded += [f"__cep_c_{col}" for col in carry_cols]
        star = f"* EXCLUDE ({', '.join(excluded)})" if excluded else "*"
        ctes.append(
            f"__cep_l{i} AS (SELECT {star}, "
            + ", ".join(exprs)
            + f" FROM {prev_level})"
        )
        prev_level = f"__cep_l{i}"

    conds = [steps[-1].predicate]
    conds += [f"__cep_ts{j} IS NOT NULL" for j in range(1, k)]
    if pattern.within is not None:
        conds.append(f"{ts_col} - __cep_ts1 <= {pattern.within}")
    for q, spec in enumerate(qspecs):
        conds.append(f"__cep_q{q} - __cep_q{q}_s1 >= {spec.min_count}")
        if spec.max_count is not None:
            conds.append(f"__cep_q{q} - __cep_q{q}_s1 <= {spec.max_count}")

    out = [partition_by]
    out += [
        f"__cep_ts{j} AS {steps[j - 1].name}_ts" for j in range(1, k)
    ]
    out.append(f"{ts_col} AS {steps[-1].name}_ts")
    out.append(f"{ts_col} - __cep_ts1 AS latency")
    for col in carry_cols:
        out.append(f"__cep_c_{col} AS {steps[0].name}_{col}")
        out.append(f"{col} AS {steps[-1].name}_{col}")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT {', '.join(out)} FROM {prev_level}\nWHERE "
        + " AND ".join(conds)
    )


# ---------------------------------------------------------------------------
# incremental (streaming) form: constant per-key state
# ---------------------------------------------------------------------------

def state_schema_cols(pattern: Pattern, carry_cols: Sequence[str] = ()) -> list[str]:
    """The carry-state columns `match_pattern_incremental` persists
    between batches, EXCLUDING the partition key. State is PER LEVEL:
    level i's fallback tuple is the chain as bound at the latest
    step-i event — e.g. "the latest view" (level 1) and "the view
    bound at the latest click" (level 2) are DIFFERENT values and both
    are needed. O(k^2) longs per key: constant in the event count."""
    k = len(pattern.steps)
    nq = len(pattern.count_specs())
    cols: list[str] = []
    for i in range(1, k):
        cols += [f"__cep_l{i}_ts{j}" for j in range(1, i + 1)]
        cols += [f"__cep_l{i}_q{q}" for q in range(nq)]
        cols += [f"__cep_l{i}_c_{c}" for c in carry_cols]
    cols += [f"__cep_q{q}_base" for q in range(nq)]
    return cols


def match_pattern_incremental(
    batch: DataFrame,
    pattern: Pattern,
    state: DataFrame | None,
    *,
    partition_by: str,
    ts_col: str,
    tiebreak: Sequence[str] = (),
    carry_cols: Sequence[str] = (),
) -> tuple[DataFrame, DataFrame]:
    """The STREAMING form of :func:`match_pattern`: process one
    micro-batch given the carry state of everything before it, and
    return ``(matches, new_state)`` such that concatenating the
    per-batch matches over ANY time-ordered split of the event history
    equals ``match_pattern`` over the full history (pinned by
    tests/test_cep.py across every split point of a fixture).

    Why constant per-key state suffices: greedy last-before binding
    only ever reads, at any row, the LATEST step-i chain tuple before
    it — so everything a future batch can observe about the past is,
    per key and per level i, the (i+1)-tuple bound at the latest
    step-i event, plus the running count prefix-sums: O(k^2) longs
    per key, no per-event retention, no window replay. This is the
    MATCH_RECOGNIZE analog of the retract-aggregation story (state
    scales with keys, not events) — why CEP over 100 TB/day of
    events needs a keyed state table, not an event buffer.

    Mechanics: the batch left-joins its key's state row (the join's
    shuffle is THE shuffle — the in-batch windows reuse its
    partitioning); every level-i in-batch carry falls back via
    coalesce to the state's level-i value when no in-batch step-i
    event precedes the row; the final-step filter is unchanged; and
    the new state snapshots each level's carries over an INCLUSIVE
    frame at each key's last row (keys absent from the batch keep
    their state rows untouched).

    Batches must be time-ordered per key (every event of a key in
    batch N+1 is later than that key's batch-N events) — the contract
    a replayed changelog / watermarked stream provides.
    """
    steps = pattern.steps
    k = len(steps)
    qspecs = pattern.count_specs()
    scols = state_schema_cols(pattern, carry_cols)
    if state is None:
        state = (
            batch.sparkSession.range(0)
            .select(
                F.col("id").alias(partition_by),
                *[F.lit(None).cast("long").alias(c) for c in scols],
            )
        )
    st = state.select(
        F.col(partition_by).alias("__st_key"),
        *[F.col(c).alias(f"__st_{c}") for c in scols],
    )
    joined = batch.join(
        st, batch[partition_by] == st["__st_key"], "left"
    ).drop("__st_key")

    order = Window.partitionBy(partition_by).orderBy(ts_col, *tiebreak)
    cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = order.rowsBetween(Window.unboundedPreceding, -1)
    base_cols = list(joined.columns)
    df = joined
    for q, spec in enumerate(qspecs):
        # total prefix-sum = carried-in count + in-batch prefix
        df = df.withColumn(
            f"__cep_q{q}",
            F.coalesce(F.col(f"__st___cep_q{q}_base"), F.lit(0)).cast("long")
            + F.sum(
                F.when(F.expr(spec.predicate), 1).otherwise(0)
            ).over(cum).cast("long"),
        )
        base_cols.append(f"__cep_q{q}")

    def fb_carry(pred: str, src: Column, out: str, fallback: str) -> Column:
        """In-batch PRECEDING-exclusive carry, falling back to the
        state value when no in-batch binding precedes the row."""
        return F.coalesce(
            F.last(F.when(F.expr(pred), src), ignorenulls=True).over(prev),
            F.col(f"__st_{fallback}"),
        ).alias(out)

    def snap_carry(pred: str, src: Column, out: str, fallback: str) -> Column:
        """INCLUSIVE-frame twin of fb_carry: the value the NEXT
        batch's rows will see — evaluated at the key's last row."""
        return F.coalesce(
            F.last(F.when(F.expr(pred), src), ignorenulls=True).over(cum),
            F.col(f"__st_{fallback}"),
        ).alias(out)

    # Level i reads the level-(i-1) eff columns (before level i
    # rebinds them), so the state SNAPSHOT for level i must be taken
    # in the same select — snap columns then ride through untouched.
    for i in range(1, k):
        pred = steps[i - 1].predicate
        carries = [
            fb_carry(pred, F.col(ts_col), f"__cep_ts{i}", f"__cep_l{i}_ts{i}"),
            snap_carry(
                pred, F.col(ts_col), f"__cep_snap_l{i}_ts{i}", f"__cep_l{i}_ts{i}"
            ),
        ]
        rebound = set()
        for j in range(1, i):
            carries.append(
                fb_carry(
                    pred, F.col(f"__cep_ts{j}"), f"__cep_ts{j}",
                    f"__cep_l{i}_ts{j}",
                )
            )
            carries.append(
                snap_carry(
                    pred, F.col(f"__cep_ts{j}"), f"__cep_snap_l{i}_ts{j}",
                    f"__cep_l{i}_ts{j}",
                )
            )
            rebound.add(f"__cep_ts{j}")
        for q in range(len(qspecs)):
            src = F.col(f"__cep_q{q}") if i == 1 else F.col(f"__cep_q{q}_s1")
            carries.append(
                fb_carry(pred, src, f"__cep_q{q}_s1", f"__cep_l{i}_q{q}")
            )
            carries.append(
                snap_carry(
                    pred, src, f"__cep_snap_l{i}_q{q}", f"__cep_l{i}_q{q}"
                )
            )
            if i > 1:
                rebound.add(f"__cep_q{q}_s1")
        for col in carry_cols:
            src = F.col(col) if i == 1 else F.col(f"__cep_c_{col}")
            carries.append(
                fb_carry(pred, src, f"__cep_c_{col}", f"__cep_l{i}_c_{col}")
            )
            carries.append(
                snap_carry(
                    pred, src, f"__cep_snap_l{i}_c_{col}", f"__cep_l{i}_c_{col}"
                )
            )
            if i > 1:
                rebound.add(f"__cep_c_{col}")
        carry_names = [f"__cep_ts{j}" for j in range(1, i + 1)]
        snap_names = [f"__cep_snap_l{i}_ts{j}" for j in range(1, i + 1)]
        carry_names += [f"__cep_q{q}_s1" for q in range(len(qspecs))]
        snap_names += [f"__cep_snap_l{i}_q{q}" for q in range(len(qspecs))]
        carry_names += [f"__cep_c_{col}" for col in carry_cols]
        snap_names += [f"__cep_snap_l{i}_c_{col}" for col in carry_cols]
        df = df.select(
            *[c for c in base_cols if c not in rebound], *carries
        )
        base_cols = (
            [c for c in base_cols if c not in rebound]
            + carry_names
            + snap_names
        )

    cond = F.expr(steps[-1].predicate)
    for j in range(1, k):
        cond = cond & F.col(f"__cep_ts{j}").isNotNull()
    if pattern.within is not None:
        cond = cond & (F.col(ts_col) - F.col("__cep_ts1") <= pattern.within)
    for q, spec in enumerate(qspecs):
        diff = F.col(f"__cep_q{q}") - F.col(f"__cep_q{q}_s1")
        cond = cond & (diff >= spec.min_count)
        if spec.max_count is not None:
            cond = cond & (diff <= spec.max_count)

    out = [F.col(partition_by)]
    out += [
        F.col(f"__cep_ts{j}").alias(f"{steps[j - 1].name}_ts")
        for j in range(1, k)
    ]
    out.append(F.col(ts_col).alias(f"{steps[-1].name}_ts"))
    out.append((F.col(ts_col) - F.col("__cep_ts1")).alias("latency"))
    for col in carry_cols:
        out.append(F.col(f"__cep_c_{col}").alias(f"{steps[0].name}_{col}"))
        out.append(F.col(col).alias(f"{steps[-1].name}_{col}"))
    matches = df.filter(cond).select(*out)

    # --- new state: each key's last row carries every level's
    # inclusive snapshot; keys not in the batch keep their rows.
    rn = F.row_number().over(
        Window.partitionBy(partition_by).orderBy(
            F.col(ts_col).desc(), *[F.col(t).desc() for t in tiebreak]
        )
    )
    last_rows = df.withColumn("__rn", rn).filter(F.col("__rn") == 1)
    sel = [F.col(partition_by)]
    for i in range(1, k):
        for j in range(1, i + 1):
            sel.append(
                F.col(f"__cep_snap_l{i}_ts{j}").alias(f"__cep_l{i}_ts{j}")
            )
        for q in range(len(qspecs)):
            sel.append(
                F.col(f"__cep_snap_l{i}_q{q}").alias(f"__cep_l{i}_q{q}")
            )
        for col in carry_cols:
            sel.append(
                F.col(f"__cep_snap_l{i}_c_{col}").alias(f"__cep_l{i}_c_{col}")
            )
    for q in range(len(qspecs)):
        sel.append(F.col(f"__cep_q{q}").alias(f"__cep_q{q}_base"))
    touched = last_rows.select(*sel)
    untouched = state.join(
        batch.select(partition_by).distinct(), partition_by, "left_anti"
    ).select(partition_by, *scols)
    new_state = touched.select(partition_by, *scols).unionByName(untouched)
    return matches, new_state


def expire_state(
    state: DataFrame,
    pattern: Pattern,
    watermark_ts: int,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Watermark-driven expiry for `match_pattern_incremental` state:
    a level-i chain tuple whose FIRST-step timestamp is older than
    ``watermark_ts - pattern.within`` can never complete a match (any
    future final step is >= the watermark, so the first-to-last gap
    already exceeds ``within``) — null the tuple so it stops being a
    fallback. Rows where every level expired are dropped entirely
    when the pattern has no count constraints; with count constraints
    the row must survive (its running prefix-sum bases still seed
    future first-step bindings). This is the piece that makes the
    keyed state table BOUNDED IN TIME as well as in width at
    100 TB/day: state per key is O(pattern^2) longs, and a key whose
    activity stopped ``within`` ago costs nothing (or one counter
    row). Safe to apply between any two batches; match output is
    unchanged (equivalence pytest in tests/test_cep.py)."""
    if pattern.within is None:
        raise ValueError("expire_state requires a pattern with `within`")
    k = len(pattern.steps)
    nq = len(pattern.count_specs())
    cutoff = watermark_ts - pattern.within
    out_cols: list[Column] = [F.col(c) for c in state.columns]
    name_to_idx = {c: i for i, c in enumerate(state.columns)}
    expired_all = F.lit(True)
    for i in range(1, k):
        ts1 = F.col(f"__cep_l{i}_ts1")
        expired = ts1.isNull() | (ts1 < F.lit(cutoff))
        expired_all = expired_all & expired
        level_cols = [f"__cep_l{i}_ts{j}" for j in range(1, i + 1)]
        level_cols += [f"__cep_l{i}_q{q}" for q in range(nq)]
        level_cols += [f"__cep_l{i}_c_{c}" for c in carry_cols]
        for c in level_cols:
            out_cols[name_to_idx[c]] = (
                F.when(expired, F.lit(None).cast("long"))
                .otherwise(F.col(c))
                .alias(c)
            )
    pruned = state.select(*out_cols)
    if nq == 0:
        pruned = pruned.filter(~expired_all)
    return pruned
