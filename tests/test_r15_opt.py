"""Round-15 optimization pins.

Every optimization this round is output-identical by construction;
these tests pin the equivalences the claims rest on:

- the pair-count-gated driver-side CC closure == the distributed
  min-label loop, on the fixture shapes AND adversarial graphs
  (unknown ids, duplicates/reversed/self pairs, NULL roster ids,
  empty pair sets, chains);
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_engagement_pipeline_spark.llm import dedup as ld


def _cc_both(spark, pair_rows, id_rows):
    pairs = spark.createDataFrame(pair_rows, "doc_a long, doc_b long")
    ids = spark.createDataFrame(id_rows, "doc_id long")
    fast = {
        (r["doc_id"], r["cluster_id"])
        for r in ld.connected_components(pairs, ids).collect()
    }
    slow = {
        (r["doc_id"], r["cluster_id"])
        for r in ld.connected_components(
            pairs, ids, driver_max_edges=0
        ).collect()
    }
    return fast, slow


def test_cc_driver_gate_equals_loop_adversarial(spark):
    """The small-graph union-find must be label-identical to the
    distributed loop on every adversarial shape the loop's semantics
    cover: pair ids absent from the roster contribute nothing,
    duplicate/reversed/self pairs normalize, singletons self-label,
    NULL roster ids keep a NULL cluster, chains converge."""
    cases = [
        # two triangles + a bridge + singletons
        (
            [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10)],
            [(i,) for i in [1, 2, 3, 10, 11, 12, 99]],
        ),
        # pair ids OUTSIDE the roster: 50-1 and 2-60 edges must not
        # propagate through the unknown endpoints
        (
            [(50, 1), (1, 2), (2, 60), (60, 61)],
            [(1,), (2,), (61,), (7,)],
        ),
        # duplicates, reversed copies, self-pairs
        (
            [(4, 5), (5, 4), (4, 5), (6, 6), (5, 6)],
            [(4,), (5,), (6,)],
        ),
        # empty pair set: everything a singleton
        ([], [(1,), (2,), (3,)]),
        # NULL roster id keeps its NULL label
        ([(1, 2)], [(1,), (2,), (None,)]),
        # a 12-chain (within the loop's default budget)
        (
            [(i, i + 1) for i in range(12)],
            [(i,) for i in range(13)],
        ),
    ]
    for pair_rows, id_rows in cases:
        fast, slow = _cc_both(spark, pair_rows, id_rows)
        assert fast == slow, (pair_rows, id_rows)


def test_train_platt_empty_frame_named_error(spark):
    """r14 ADVICE: the NULL-sums guard must fire on the PRODUCTION
    path — train_platt over an empty feature frame raises the named
    ValueError, not a bare TypeError from int(None)."""
    import pytest

    from flink_engagement_pipeline_spark.llm.classify import train_platt

    empty = spark.createDataFrame([], "doc_id long, s double, y int")
    with pytest.raises(ValueError, match="NULL Newton sums"):
        train_platt(empty)


def test_state_memo_evicts_superseded(tmp_path):
    """r14 ADVICE: a key miss for the same fixture dir reclaims the
    superseded mkdtemp state dir instead of stranding it."""
    from flink_engagement_pipeline_spark.llm.pq import _state_memo_evict

    memo = {}
    d1 = tmp_path / "state1"
    d1.mkdir()
    memo[("/fix/a", ("h1",))] = str(d1)
    _state_memo_evict(memo, "/fix/a")
    assert memo == {} and not d1.exists()
    d2 = tmp_path / "state2"
    d2.mkdir()
    memo[("/fix/b", ("h2",))] = str(d2)
    _state_memo_evict(memo, "/fix/a")  # other fixtures untouched
    assert ("/fix/b", ("h2",)) in memo and d2.exists()


def test_hex_prefix_pid_numbering_identical(spark):
    """grouped_global_row_number with the arithmetic hex-prefix range
    id must number identically to the sampled-boundary form — on
    md5-keyed rows including NULL keys/groups, and at a parallelism
    that does not divide the hex space (the driver's c8 run)."""
    from flink_engagement_pipeline_spark.operators.rank import (
        grouped_global_row_number,
        hex_prefix_pid,
    )

    base = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 97 == 0, None)
        .otherwise(F.md5(F.col("id").cast("string")))
        .alias("fp"),
        F.when(F.col("id") % 3 == 0, "train")
        .when(F.col("id") % 3 == 1, "val")
        .otherwise(None)
        .alias("split"),
    )
    from pyspark.sql import Window

    # ground truth: the plain window form (the sampled device cannot
    # sort NULL sample keys driver-side — a pre-existing limit of the
    # sampled path; production digest keys are never NULL)
    w = Window.partitionBy("split").orderBy("fp", "doc_id")
    ref = sorted(
        tuple(r)
        for r in base.withColumn(
            "rk", F.row_number().over(w).cast("long")
        ).collect()
    )
    no_null_fp = base.filter(F.col("fp").isNotNull())
    ref_sampled = sorted(
        tuple(r)
        for r in grouped_global_row_number(
            no_null_fp, "split", ["fp", "doc_id"], out="rk"
        ).collect()
    )
    fast_sampled = sorted(
        tuple(r)
        for r in grouped_global_row_number(
            no_null_fp, "split", ["fp", "doc_id"], out="rk",
            pid_expr=hex_prefix_pid("fp", 32),
        ).collect()
    )
    assert fast_sampled == ref_sampled
    for n_parts in (32, 7, 1):
        fast = sorted(
            tuple(r)
            for r in grouped_global_row_number(
                base, "split", ["fp", "doc_id"], out="rk",
                pid_expr=hex_prefix_pid("fp", n_parts),
            ).collect()
        )
        assert fast == ref, n_parts


def test_hex_prefix_pid_rejects_non_hex_keys(spark):
    """A non-NULL key whose first 4 chars are not lowercase hex digits
    must fail the query instead of landing silently in a wrong range
    (conv reads 'ZZZZ' as 0 and '12zz' as 0x12); NULL keys stay in
    range 0."""
    import pytest

    from flink_engagement_pipeline_spark.operators.rank import hex_prefix_pid

    ok = spark.createDataFrame([("ffff0",), (None,), ("0000",)], "k string")
    assert [r[0] for r in ok.select(hex_prefix_pid("k", 4)).collect()] == [
        3,
        0,
        0,
    ]
    for bad in ("ZZZZ", "12zz", "ABCD", "ab", ""):
        df = spark.createDataFrame([(bad,)], "k string")
        with pytest.raises(Exception, match="hex_prefix_pid: key"):
            df.select(hex_prefix_pid("k", 4)).collect()


def test_ivf_batch_probe_selection_gate_identical(spark, sf_dir):
    """r13 advisory #2 / r14 verdict #3: Spark-side probe selection
    above the batch-size gate must be identical to the driver loop —
    probe pairs (order included) and the served ranks frame."""
    from flink_engagement_pipeline_spark.llm.cluster import _dot_py
    from flink_engagement_pipeline_spark.llm.similarity import (
        IVF_PROBES,
        _centroids,
    )
    from flink_engagement_pipeline_spark.plans.queries_ext10 import (
        _probe_pairs_spark,
        ivf_batch_topk_from_state,
    )
    from flink_engagement_pipeline_spark.sources.tables import load_table

    nq = 4
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _centroids(emb)
    driver_pairs = []
    for r in sorted(
        e.filter(F.col("vec_id") < nq).collect(), key=lambda r: r["vec_id"]
    ):
        qv = [float(x) for x in r["v"]]
        dists = sorted(
            (_dot_py(qv, qv) - 2 * _dot_py(qv, c) + _dot_py(c, c), i)
            for i, c in enumerate(cents)
        )
        driver_pairs += [(r["vec_id"], cl) for _, cl in dists[:IVF_PROBES]]
    spark_pairs = _probe_pairs_spark(e, cents, nq, IVF_PROBES)
    assert spark_pairs == driver_pairs
    below = ivf_batch_topk_from_state(
        spark, sf_dir, num_queries=nq, k=10, spark_probe_min_nq=10**9
    )
    above = ivf_batch_topk_from_state(
        spark, sf_dir, num_queries=nq, k=10, spark_probe_min_nq=1
    )
    assert sorted(map(tuple, below.collect())) == sorted(
        map(tuple, above.collect())
    )


def test_cc_driver_gate_equals_loop_random(spark):
    """Seeded pseudo-random mixed graph (the test_graph device):
    gate path == loop path label-for-label."""
    edges = (
        spark.range(600)
        .select(
            F.abs(F.xxhash64(F.col("id")) % 400).alias("doc_a"),
            F.abs(F.xxhash64(F.col("id") + 7919) % 400).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    ids = spark.range(400).select(F.col("id").alias("doc_id"))
    fast = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in ld.connected_components(edges, ids).collect()
    )
    slow = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in ld.connected_components(
            edges, ids, driver_max_edges=0
        ).collect()
    )
    assert fast == slow


def test_media_phash_no_inferred_filter_duplication(spark, sf_dir):
    """The pHash signature stage explodes the shingle array INLINE:
    explode of a bare attribute makes InferFiltersFromGenerate add a
    size(col)>0 filter that pushdown rewrites through the projection
    and below the fan_out exchange — re-evaluating the whole shingle
    build per row on the pre-repartition split (measured 4x on the
    signature stage). Pin: no Filter in the executed plan re-evaluates
    the shingle build (arrays_zip), and the values are unchanged
    against the named-intermediate reference form."""
    from pyspark.sql import Window

    from flink_engagement_pipeline_spark.llm import multimodal as lm
    from flink_engagement_pipeline_spark.llm.text import shingles
    from flink_engagement_pipeline_spark.operators.util import fan_out
    from flink_engagement_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    media = fan_out(lm.docs_as_media(docs))

    plan = (
        lm.media_phash(media)._jdf.queryExecution().executedPlan().toString()
    )
    dup_filters = [
        ln
        for ln in plan.splitlines()
        if "Filter " in ln and "size(" in ln and "arrays_zip" in ln
    ]
    assert dup_filters == [], dup_filters

    bits = lm.PHASH_BITS
    base = media.select(
        "doc_id", shingles(F.col("payload").cast("string"), 3).alias("sh")
    )
    binned = (
        base.select("doc_id", F.explode("sh").alias("s"))
        .selectExpr(
            "doc_id",
            "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) AS h",
        )
        .selectExpr(
            "doc_id",
            f"CAST(h % {bits} AS INT) AS bin",
            f"(h DIV {bits}) % 256 AS lum",
        )
    )
    pix = binned.groupBy("doc_id", "bin").agg(F.sum("lum").alias("pix"))
    w = Window.partitionBy("doc_id")
    ref = (
        pix.withColumn("tot", F.sum("pix").over(w))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN pix * {bits} > tot"
                    " THEN shiftleft(CAST(1 AS BIGINT), bin)"
                    " ELSE CAST(0 AS BIGINT) END"
                )
            ).alias("phash")
        )
    )
    got = lm.media_phash(media)
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_media_pair_builds_checkpoint_index_once(spark, sf_dir):
    """The fresh-build pair compositions localCheckpoint their bucket
    index before the multi-reference serving tail (exchange reuse does
    not unify the references — 0 ReusedExchange measured, the lambda
    functions defeat plan canonicalization). Pin: the built plans read
    the index from a checkpoint scan — a LogicalRDD leaf in the
    optimized plan whose columns are exactly the bucket index's, so a
    checkpoint of any other frame cannot satisfy it — and the pair
    outputs equal the tail applied to the raw (uncheckpointed)
    index."""
    import re

    from flink_engagement_pipeline_spark.llm import multimodal as lm
    from flink_engagement_pipeline_spark.operators.util import fan_out
    from flink_engagement_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    media = fan_out(lm.docs_as_media(docs))

    for built, index, serve in [
        (
            lm.media_phash_pairs(media),
            lm.media_phash_buckets(media),
            lambda idx: ld.hamming_pairs_from_index(
                idx, "phash", lm.PHASH_MAX_HAMMING
            ),
        ),
        (
            lm.media_video_neardup(media),
            lm.video_frame_buckets(media),
            lm.media_video_pairs_from_index,
        ),
    ]:
        plan = built._jdf.queryExecution().optimizedPlan().toString()
        leaves = [
            re.findall(r"(\w+)#\d+", cols)
            for cols in re.findall(r"LogicalRDD \[([^\]]*)\]", plan)
        ]
        assert index.columns in leaves, (index.columns, leaves)
        raw = serve(index)
        assert built.exceptAll(raw).count() == 0
        assert raw.exceptAll(built).count() == 0
