"""Product quantization (PQ) + asymmetric-distance ANN search.

The third leg of the ANN stack (hyperplane LSH buckets, IVF inverted
lists, and now PQ compression): each 64-dim vector is split into
``PQ_M`` = 8 subspaces of 8 dims; every subspace gets a 16-entry
codebook (so a vector compresses to 8 bytes — 32x smaller than
float32), and a query scans the *codes* using a per-subspace
distance-table lookup (ADC) instead of touching the raw vectors.

Scale shape:
- codebook training is ONE aggregation pass for all 8 subspaces: the
  quantized vector explodes to (subspace, cluster, subpos) integer
  sums, 8*16*8 = 1024 aggregated rows — metadata on the driver, like
  the IVF/k-means trainers.
- encoding is a pure projection (argmin over 16 literal centroids per
  subspace — all 128 candidates inlined in one expression tree).
- ADC search is a projection too: the 8x16 distance table enters as
  literals, the estimated distance is 8 array lookups + 7 adds, and
  the top-k is TakeOrderedAndProject. No join, no shuffle, no raw
  vectors read after encoding.

Determinism: codebooks use the same integer-quantized Lloyd update as
llm/cluster.py (order-independent sums, convert-then-divide double
rounding), strided seeds over the contiguous vec_id space, argmin
ties to the lowest code — so PQ training + encoding + ADC ranking
unroll into plain SQL CTEs and the registered query hash-matches its
oracle, codebook bits and all.

Cost profile (measured): the INDEX BUILD — training both quantizers
and materializing the encoded table (`encoded_table`) — was ~30 s at
sf0.1, and the dominant constant turned out to be PY4J TRAFFIC, not
Catalyst analysis as first diagnosed: constructing the 8 argmin
assignment columns as Python Column objects cost ~10 s per plan
build (the whole-stage on/off parity measurement had only ruled out
Janino). `_assign_code_sql` builds the identical expression as one
parsed SQL string; the cold end-to-end gate cost measured
27.5 -> 13.5 s (pq_adc, sf0.01, training + encode + write included)
and 11.3 -> 5.8 s (ivf_pq) in a same-session A/B. What remains is
trainer executor work + the (cached-after-first-use) codegen of the
literal tree. The build runs ONCE per corpus (deterministic-trainer
memo + persisted codes) and amortizes to nothing at real scale;
SERVING — the ADC scan over the persisted codes — is a tiny compiled
plan, ~0.5 s at sf0.1. Per-row math is codegen'd plain arithmetic
(`_dot_lit` form).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cluster import _dot_py, _quantized


# Deterministic-trainer memo: same semantic input plan + same files =>
# bit-identical codebooks, so recomputation is pure waste. Keyed by
# the ANALYZED plan's semanticHash (ignores expression ids) plus the
# concrete file set; bounded to a handful of entries (one per fixture
# scale in practice). This is the "train once, reuse the encoded
# table" contract the module docstring demands, made automatic.
# An interpreted-eval variant (skip codegen for the trainer jobs) was
# measured and REJECTED: at sf0.1 interpreted eval of the 4000-node
# assignment tree costs ~20 s against the ~8 s of compile it saves.
_MEMO_MAX = 8
_codebook_memo: dict = {}


def _memo_key(df: DataFrame) -> tuple:
    """Semantic plan hash + concrete file identity. File identity is
    (path, size, mtime_ns), not path alone: data overwritten in place
    under the same file names (fixture regeneration between rounds)
    must MISS — a stale codebook served against new vectors is a
    silent wrong answer, the worst failure mode a trainer memo can
    have. A non-statable URI (remote scheme, vanished file) keys with
    size/mtime = None, which still invalidates whenever the file SET
    changes and never crashes the key builder."""
    import os
    from urllib.parse import unquote, urlparse

    ident = []
    for uri in sorted(df.inputFiles()):
        p = urlparse(uri)
        local = unquote(p.path) if p.scheme in ("", "file") else None
        try:
            st = os.stat(local) if local else None
        except OSError:
            st = None
        ident.append(
            (uri, st.st_size if st else None, st.st_mtime_ns if st else None)
        )
    return (
        df._jdf.queryExecution().analyzed().semanticHash(),
        tuple(ident),
    )


def _memo_freeze(value):
    """Deep-tuple nested float lists so a memo hit can never be
    mutated into cache corruption by a caller editing the returned
    books/centroids in place."""
    if isinstance(value, (list, tuple)):
        return tuple(_memo_freeze(v) for v in value)
    return value


def _memo_thaw(value):
    if isinstance(value, tuple):
        return [_memo_thaw(v) for v in value]
    return value


def _memo_put(key: tuple, value) -> None:
    """Insert with bounded FIFO eviction; an evicted 'encoded' entry
    is a temp directory we own, so reclaim it instead of leaking."""
    import shutil

    while len(_codebook_memo) >= _MEMO_MAX:
        old_key = next(iter(_codebook_memo))
        old_val = _codebook_memo.pop(old_key)
        if old_key[0] == "encoded" and isinstance(old_val, str):
            shutil.rmtree(os.path.dirname(old_val), ignore_errors=True)
    _codebook_memo[key] = value


def _state_memo_evict(memo: dict, sf_key: str) -> None:
    """Reclaim-and-evict a state-dir memo's superseded entries for one
    fixture dir before inserting its fresh key: an in-place fixture
    regeneration changes the file-identity half of the key, and
    without eviction each regen strands the previous mkdtemp state
    dir and grows the memo unboundedly in long-lived sessions (r14
    ADVICE — the rmtree-reclaiming analog of ``_memo_put``)."""
    import shutil

    for old in [k for k in memo if k[0] == sf_key]:
        shutil.rmtree(memo.pop(old), ignore_errors=True)

PQ_M = 8        # subspaces
PQ_SUBDIM = 8   # dims per subspace (PQ_M * PQ_SUBDIM == DIM)
PQ_K = 16       # codes per subspace -> 4 bits/code, 8 bytes/vector


def _sub_py(vec: list[float], s: int) -> list[float]:
    return vec[s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]


def _dot_lit(els: list[Column], c: list[float]) -> Column:
    """Expanded-arithmetic dot against a literal vector: plain
    ((0 + x1*y1) + x2*y2)... adds — the SAME left-to-right IEEE fold
    as `_dot`/list_dot_product (so oracle equality is preserved), but
    as ordinary arithmetic that whole-stage codegen compiles, where a
    higher-order-function lambda stays interpreted. For the 8-dim PQ
    subspaces this is 128 codegen'd dots per row instead of 128
    interpreted lambda folds (~3x end-to-end, measured)."""
    acc: Column = F.lit(0.0)
    for el, x in zip(els, c):
        acc = acc + el * F.lit(float(x))
    return acc


def _assign_code(v: Column, s: int, book: list[list[float]]) -> Column:
    """argmin-distance code for subspace `s` of the full vector:
    struct(dist, code) candidates, array_min — same total order as the
    oracle's row_number (dist ASC, code ASC). Distances use the
    expanded vv - 2vc + cc form over direct element indexing (no
    slice, no lambdas). Kept as the readable reference; the hot
    builder is :func:`_assign_code_sql` (identical AST)."""
    els = [v.getItem(s * PQ_SUBDIM + i) for i in range(PQ_SUBDIM)]
    vv: Column = F.lit(0.0)
    for el in els:
        vv = vv + el * el
    cands = []
    for j, c in enumerate(book):
        d = vv - F.lit(2.0) * _dot_lit(els, c) + F.lit(_dot_py(c, c))
        cands.append(F.struct(d.alias("d"), F.lit(j).alias("c")))
    return F.array_min(F.array(*cands))["c"]


def _assign_code_sql(v_name: str, s: int, book: list[list[float]]) -> str:
    """SQL-string twin of :func:`_assign_code`, token-for-token the
    same expression tree (same left-to-right adds, same literals via
    repr-round-trip `D` doubles), parsed JVM-side in one call. The
    Python-built form cost ~10 s of py4j traffic for the 8 assign
    columns PER PLAN BUILD — previously misattributed to Catalyst
    analysis, which is actually ~1.3 s; this is where the PQ family's
    'constant driver overhead' lived."""
    els = [f"{v_name}[{s * PQ_SUBDIM + i}]" for i in range(PQ_SUBDIM)]
    vv = "0.0D" + "".join(f" + {el} * {el}" for el in els)
    cands = []
    for j, c in enumerate(book):
        dot = "0.0D" + "".join(
            f" + {el} * {float(x)!r}D" for el, x in zip(els, c)
        )
        d = f"({vv}) - 2.0D * ({dot}) + {float(_dot_py(c, c))!r}D"
        cands.append(f"named_struct('d', {d}, 'c', {j})")
    return f"array_min(array({','.join(cands)})).c"


def train_codebooks(emb: DataFrame) -> list[list[list[float]]]:
    """Strided seeds refined by ONE quantized Lloyd step — all 8
    subspaces trained in a single aggregation pass.

    Returns books[s][j] = centroid j of subspace s. Driver-side state
    is 8*16 8-dim vectors + 1024 aggregated sum rows: metadata.

    Memoized per semantic input (training is deterministic), and the
    trainer jobs run interpreted (`_interpreted_eval`): the compile
    cost of the 4000-node assignment expression outweighs its executor
    time at fixture scale, and at corpus scale training amortizes to
    nothing either way."""
    import math

    key = ("books", _memo_key(emb))
    if key in _codebook_memo:
        return _memo_thaw(_codebook_memo[key])

    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    n = e.count()
    stride = max(1, n // PQ_K)
    seed_rows = (
        e.filter(
            (F.col("vec_id") % stride == 0) & (F.col("vec_id") < PQ_K * stride)
        )
        .orderBy("vec_id")
        .collect()
    )
    if len(seed_rows) != PQ_K:
        raise ValueError(
            f"strided seeding expects contiguous vec_ids: wanted {PQ_K} "
            f"seeds, found {len(seed_rows)}"
        )
    seeds = [
        [_sub_py([float(x) for x in r["v"]], s) for r in seed_rows]
        for s in range(PQ_M)
    ]
    # one pass: per-subspace assignment columns + quantized explode
    assigns = [
        F.expr(_assign_code_sql("v", s, seeds[s])).alias(f"c{s}")
        for s in range(PQ_M)
    ]
    long = (
        e.select(F.col("v"), *assigns)
        .select(
            F.posexplode(_quantized(F.col("v"))).alias("pos", "q"),
            *[F.col(f"c{s}") for s in range(PQ_M)],
        )
        .select(
            (F.col("pos") / PQ_SUBDIM).cast("int").alias("s"),
            (F.col("pos") % PQ_SUBDIM).alias("subpos"),
            F.element_at(
                F.array(*[F.col(f"c{s}") for s in range(PQ_M)]),
                (F.col("pos") / PQ_SUBDIM).cast("int") + 1,
            ).alias("cl"),
            F.col("q"),
        )
    )
    rows = (
        long.groupBy("s", "cl", "subpos")
        .agg(F.sum("q").alias("sum"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    acc: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
    for r in rows:
        acc.setdefault((r["s"], r["cl"]), {})[r["subpos"]] = (r["sum"], r["n"])
    books: list[list[list[float]]] = []
    for s in range(PQ_M):
        book = []
        for j in range(PQ_K):
            dims = acc.get((s, j))
            if dims:
                book.append(
                    [
                        math.floor(float(q) / n_ + 0.5) / 1_000_000.0
                        for _, (q, n_) in sorted(dims.items())
                    ]
                )
            else:
                book.append(seeds[s][j])
        books.append(book)
    _memo_put(key, _memo_freeze(books))
    return books


def encode(emb: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """PQ codes as a pure projection: (vec_id, c0..c{M-1})."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return e.select(
        "vec_id",
        *[
            F.expr(_assign_code_sql("v", s, books[s])).alias(f"c{s}")
            for s in range(PQ_M)
        ],
    )


def encoded_table(
    emb: DataFrame, with_cluster: bool = False
) -> tuple[DataFrame, list[list[list[float]]], list[list[float]] | None]:
    """The persisted serving index: (vec_id, [cluster,] c0..c7) written
    ONCE per corpus to parquet and re-read for every query — exactly
    what a production IVF-PQ tier does (FAISS stores the codes, not
    the vectors). Returns (codes_df, books, coarse_centroids).

    Why materialize: the encode projection embeds a ~4000-node literal
    expression whose Catalyst analysis + whole-stage codegen cost ~4 s
    per DISTINCT codebook — a constant that amortizes at corpus scale
    but dominates fixture-scale wall-clock when every query re-derives
    the codes from raw vectors. The encoded table is 9 small integer
    columns (8 bytes of code per vector logically); serving plans over
    it are tiny scans + arithmetic, compile in milliseconds, and NO
    session-lifetime RDD/cache state is held — the index lives in a
    temp directory keyed by the same deterministic memo as the
    codebooks, so a repeated call re-reads, never re-encodes."""
    import os

    from .. import tmpdirs
    from .cluster import assign_clusters

    books = train_codebooks(emb)
    coarse = None
    if with_cluster:
        from .similarity import _centroids

        coarse = _centroids(emb)
    key = ("encoded", with_cluster, _memo_key(emb))
    path = _codebook_memo.get(key)
    if path is not None and not os.path.exists(path):
        # tmp reaping in a long-lived session: the memoized directory
        # is gone, so a hit would hand serving a read of nothing —
        # rebuild instead
        _codebook_memo.pop(key, None)
        path = None
    if path is None:
        e = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        cols = [
            F.expr(_assign_code_sql("v", s, books[s])).alias(f"c{s}")
            for s in range(PQ_M)
        ]
        if with_cluster:
            enc = assign_clusters(e, coarse).select(
                "vec_id", "cluster", *cols
            )
        else:
            enc = e.select("vec_id", *cols)
        path = os.path.join(tmpdirs.mkdtemp(prefix="pq_index_"), "codes")
        # the one-time index build runs with whole-stage codegen OFF
        # (see wholestage_off): fusing the coarse assignment + 8 code
        # argmins into a single generated method makes Janino compile
        # one ~6000-node class (superlinear, ~20 s); per-expression
        # codegen compiles nine small units instead and the build
        # drops to a few seconds. Execution stays compiled either way.
        with wholestage_off(emb.sparkSession):
            enc.write.parquet(path)
        _memo_put(key, path)
    return emb.sparkSession.read.parquet(path), books, coarse


def wholestage_off(spark):
    """Context manager: run a one-time index build with whole-stage
    codegen OFF (per-expression codegen still on). Fusing a coarse
    assignment + 8 code argmins into one generated method makes Janino
    compile a ~6000-node class (superlinear, ~20 s); nine small units
    compile in seconds. Extracted from ``encoded_table`` so the
    lifecycle cells (plans/queries_ext10) write their code deltas under
    the same discipline."""
    from ..session import pinned_conf

    return pinned_conf(spark, "spark.sql.codegen.wholeStage", "false")


def encode_codes(
    emb: DataFrame,
    books: list[list[list[float]]],
    coarse: list[list[float]],
) -> DataFrame:
    """(vec_id, cluster, c0..c7) under PINNED quantizers — the
    ingest-path encoder: both the coarse assignment and the 8 code
    argmins are pure parsed-SQL projections of the input batch, so a
    nightly ingest costs batch-sized work plus a metadata-sized
    codebook read, never a corpus rescan or a retrain. Because the
    quantizers are pinned, encoding is a pure function of the vector:
    append == rebuild bit-for-bit (the lifecycle family's algebra)."""
    from .cluster import assign_clusters

    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cols = [
        F.expr(_assign_code_sql("v", s, books[s])).alias(f"c{s}")
        for s in range(PQ_M)
    ]
    return assign_clusters(e, coarse).select("vec_id", "cluster", *cols)


def fold_codes(codes: DataFrame) -> DataFrame:
    """Live code rows from op-signed deltas (op=+1 ingest, op=-1
    takedown tombstone — the LSM convention the BM25 family set):
    sum(op) per full code row, keep positive. Codes never change for
    a vec_id under pinned quantizers, so the fold groups on the whole
    row and the live set equals rebuild-without-X exactly. Run AFTER
    any cluster-prune filter — cluster is a group key, so
    filter-then-fold == fold-then-filter and the fold touches only
    the probed lists."""
    cols = [c for c in codes.columns if c != "op"]
    return (
        codes.groupBy(*cols)
        .agg(F.sum("op").alias("op"))
        .filter(F.col("op") > 0)
        .select(*cols)
    )


def _adc_tables(
    qvec: list[float], books: list[list[list[float]]]
) -> list[list[float]]:
    """The query's 8x16 asymmetric-distance table — driver metadata,
    mirroring the oracle's vv - 2vc + cc fold exactly."""
    return [
        [
            _dot_py(_sub_py(qvec, s), _sub_py(qvec, s))
            - 2 * _dot_py(_sub_py(qvec, s), books[s][j])
            + _dot_py(books[s][j], books[s][j])
            for j in range(PQ_K)
        ]
        for s in range(PQ_M)
    ]


def _adc_est_col(tables: list[list[float]]) -> Column:
    """Estimated squared L2 from the code columns: 8 literal-array
    lookups + 7 adds — plain codegen'd arithmetic per row."""
    est = None
    for s in range(PQ_M):
        lut = F.array(*[F.lit(float(d)) for d in tables[s]])
        term = F.element_at(lut, F.col(f"c{s}") + 1)
        est = term if est is None else est + term
    return est


def ivf_pq_serve(
    codes: DataFrame,
    qvec: list[float],
    books: list[list[list[float]]],
    coarse: list[list[float]],
    k: int = 10,
) -> DataFrame:
    """IVF-PQ top-k over an externally-provided codes frame (vec_id,
    cluster, c0..c7) — the serve tail shared by the process-memoized
    build artifact (:func:`ivf_pq_topk`) and the persisted lifecycle
    state (plans/queries_ext10.pq_state_dir). Probe selection is
    driver metadata; the probed clusters prune the codes scan (literal
    isin pushdown); the ADC sum + TakeOrderedAndProject never touch a
    raw vector."""
    from .similarity import IVF_PROBES

    dists = [
        (_dot_py(qvec, qvec) - 2 * _dot_py(qvec, c) + _dot_py(c, c), i)
        for i, c in enumerate(coarse)
    ]
    probes = [i for _, i in sorted(dists)[:IVF_PROBES]]
    enc = codes.filter(F.col("cluster").isin(probes))
    est = _adc_est_col(_adc_tables(qvec, books))
    return (
        enc.select("vec_id", est.alias("est_dist"))
        .orderBy(F.col("est_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def ivf_pq_topk(
    emb: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """IVF-PQ: the full billion-vector serving composition — coarse
    IVF centroids prune the corpus to the probed inverted lists, and
    ranking inside them uses the PQ codes via ADC lookups instead of
    raw vectors.

    Plan shape: serving reads the PERSISTED codes table
    (`encoded_table`: vec_id, cluster, c0..c7 — built once per
    corpus); the probe filter and the ADC sum run in the same tiny
    stage over it; top-k is TakeOrderedAndProject. Raw vectors are
    touched only by the one-time build. Only
    ~probes/lists of rows reach the distance lookup, and nothing but
    metadata (16 coarse centroids + 8x16 codebooks + the 8x16 query
    table) leaves the driver. This is exactly FAISS's IVF-PQ layout
    expressed as DataFrame ops."""
    codes, books, coarse = encoded_table(emb, with_cluster=True)
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qvec = [
        float(x) for x in e.filter(F.col("vec_id") == query_vec_id).first()["v"]
    ]
    # serving: tiny scan of the persisted codes, list-pruned, ADC sum
    return ivf_pq_serve(codes, qvec, books, coarse, k=k)


def adc_topk(emb: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Asymmetric-distance top-k: exact per-subspace distances from
    the query to every codebook entry (the 8x16 table, computed on the
    driver and inlined as literals), summed over the code columns.

    Output: (vec_id, codes_csv, est_dist) ordered by estimated
    squared L2 — the PQ-compressed scan every billion-vector ANN
    serving tier runs."""
    enc, books, _ = encoded_table(emb)
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qvec = [
        float(x) for x in e.filter(F.col("vec_id") == query_vec_id).first()["v"]
    ]
    # distance tables mirror the oracle's vv - 2vc + cc fold exactly
    est = _adc_est_col(_adc_tables(qvec, books))
    return (
        enc.select(
            "vec_id",
            F.concat_ws(
                ",", *[F.col(f"c{s}").cast("string") for s in range(PQ_M)]
            ).alias("codes_csv"),
            est.alias("est_dist"),
        )
        .orderBy(F.col("est_dist").asc(), F.col("vec_id").asc())
        .limit(k)
    )
