"""Round-7 additions: BPE encode (trainer->apply loop), incremental
IVF index maintenance, exact-substring duplicate coverage, and the
stream-stream LEFT OUTER and FULL OUTER interval joins.

Each registered query is also swept against its DuckDB oracle by
tests/test_registry_oracle.py; the tests here pin the semantics the
oracle compare can't see (independent pure-Python recomputation,
rebuild-equivalence, planted duplicates, streaming null emission).
"""

from __future__ import annotations

import os

from collections import Counter

from pyspark.sql import functions as F

from flink_engagement_pipeline_spark.plans.registry import REGISTRY


# ---------------------------------------------------------------------------
# BPE encode
# ---------------------------------------------------------------------------


def _py_bpe(texts: list[str], k: int):
    """Pure-Python reference: train k merges (greedy argmax by
    (count desc, pair asc), boundary-guarded str.replace application —
    the same semantics both engines implement), then encode every
    word and assign GPT-2-style ids (sorted chars 0..C-1, merges
    C+rank-1). Returns (merges, word->symbol-list, symbol->id)."""
    wc = Counter(w for t in texts for w in t.split(" ") if w)
    seqs = {w: list(w) for w in wc}
    merges = []
    for _step in range(1, k + 1):
        pc: Counter = Counter()
        for w, s in seqs.items():
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += wc[w]
        (a, b), _n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b))
        for w, s in seqs.items():
            joined = " " + " ".join(s) + " "
            seqs[w] = joined.replace(f" {a} {b} ", f" {a}{b} ").split()
    chars = sorted({c for w in wc for c in w})
    ids = {c: i for i, c in enumerate(chars)}
    for r, (a, b) in enumerate(merges, start=1):
        ids[a + b] = len(chars) + r - 1
    return merges, seqs, ids


def test_bpe_encode_matches_pure_python_reference(spark, sf_dir):
    """docs_bpe_encode must equal training + greedy application +
    id mapping done entirely in Python over the same corpus."""
    import duckdb

    from flink_engagement_pipeline_spark.llm.text import BPE_MERGES

    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]
    doc_ids = [
        i
        for (i,) in duckdb.sql(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]
    _merges, seqs, ids = _py_bpe(texts, BPE_MERGES)
    want = {}
    for doc_id, t in zip(doc_ids, texts):
        toks = [ids[sym] for w in t.split(" ") if w for sym in seqs[w]]
        if toks:
            want[doc_id] = (len(toks), " ".join(str(x) for x in toks))
    rows = REGISTRY["docs_bpe_encode"].spark(spark, sf_dir).collect()
    got = {r["doc_id"]: (r["n_tokens"], r["token_ids"]) for r in rows}
    assert got == want


def test_bpe_encode_concat_roundtrip(spark, sf_dir):
    """Decoding property: concatenating the symbols of every doc's
    token-id sequence must reproduce the doc's whitespace-normalized
    text (BPE merges never cross word boundaries, so decode ==
    concat within words, space-join across words)."""
    import duckdb

    from flink_engagement_pipeline_spark.llm.text import BPE_MERGES

    texts = {
        i: t
        for (i, t) in duckdb.sql(
            f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    }
    _m, seqs, ids = _py_bpe(list(texts.values()), BPE_MERGES)
    inv = {v: k for k, v in ids.items()}
    rows = REGISTRY["docs_bpe_encode"].spark(spark, sf_dir).collect()
    for r in rows[:50]:
        decoded = "".join(
            inv[int(x)] for x in r["token_ids"].split(" ")
        )
        want = "".join(w for w in texts[r["doc_id"]].split(" ") if w)
        assert decoded == want, r["doc_id"]


# ---------------------------------------------------------------------------
# IVF incremental ingest
# ---------------------------------------------------------------------------


def test_ivf_ingest_rebuild_equivalence(spark, sf_dir):
    """The pinned-quantizer contract: appending the ingested batch's
    assignments to the persisted corpus index must EQUAL rebuilding
    the full assignment table over corpus+batch with the same
    corpus-trained centroids — and the reported list sizes must match
    the rebuilt table's cluster histogram."""
    from flink_engagement_pipeline_spark.llm import similarity as ls
    from flink_engagement_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cut = int(
        emb.agg(F.expr("max(vec_id) * 4 div 5").alias("c")).first()["c"]
    )
    corpus = emb.filter(F.col("vec_id") < cut)
    cents = ls._centroids(corpus)

    ingested = {
        r["vec_id"]: (r["cluster"], r["list_size_after"])
        for r in REGISTRY["embedding_ivf_ingest"].spark(spark, sf_dir).collect()
    }
    # every ingested row is a batch row, and every batch row ingested
    assert ingested and all(v >= cut for v in ingested)

    rebuilt = {
        r["vec_id"]: r["cluster"]
        for r in ls.ivf_assignments(emb, cents).collect()
    }
    hist = Counter(rebuilt.values())
    for vec_id, (cl, size_after) in ingested.items():
        assert rebuilt[vec_id] == cl
        assert hist[cl] == size_after
    assert set(ingested) == {v for v in rebuilt if v >= cut}


# ---------------------------------------------------------------------------
# exact-substring duplicate coverage
# ---------------------------------------------------------------------------


def test_substring_dedup_planted_span(spark):
    """A shared substring of length L >= N must surface as ONE merged
    interval covering exactly L tokens in each document containing it
    (the maximal-anchor-run equivalence the query's doc claims), and
    a document with no shared >=N-gram must report zero coverage."""
    from flink_engagement_pipeline_spark.llm.dedup import (
        substring_dup_coverage,
    )
    from flink_engagement_pipeline_spark.plans.queries_ext5 import _SUB_N

    shared = " ".join(f"tok{i}" for i in range(_SUB_N + 5))  # L = N+5
    docs = [
        (0, f"alpha beta {shared} gamma delta"),
        (1, f"epsilon {shared} zeta eta theta iota"),
        (2, "unique words only here nothing repeats at all today"),
    ]
    frame = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in substring_dup_coverage(frame, _SUB_N).collect()
    }
    L = _SUB_N + 5
    for d in (0, 1):
        assert out[d]["n_dup_intervals"] == 1, out[d]
        assert out[d]["dup_tokens"] == L, out[d]
    assert out[2]["n_dup_intervals"] == 0
    assert out[2]["dup_tokens"] == 0
    assert out[2]["dup_ratio"] == 0.0


def test_substring_dedup_within_doc_repeat_and_merge(spark):
    """Within-doc repeats count (Lee et al. semantics), and
    overlapping anchor intervals from DIFFERENT shared substrings
    merge into maximal intervals."""
    from flink_engagement_pipeline_spark.llm.dedup import (
        substring_dup_coverage,
    )
    from flink_engagement_pipeline_spark.plans.queries_ext5 import _SUB_N

    span = " ".join(f"w{i}" for i in range(_SUB_N))  # exactly N tokens
    # doc 0 contains the N-token span twice -> two merged intervals
    # (separated by a unique token), each exactly N tokens
    docs = [(0, f"{span} breaker {span}")]
    frame = spark.createDataFrame(docs, "doc_id long, text string")
    (row,) = substring_dup_coverage(frame, _SUB_N).collect()
    assert row["n_dup_intervals"] == 2
    assert row["dup_tokens"] == 2 * _SUB_N


# ---------------------------------------------------------------------------
# stream-stream LEFT OUTER join
# ---------------------------------------------------------------------------


def test_stream_outer_join_emits_null_rows(spark, sf_dir):
    """The streaming left-outer replay must (a) emit one
    null-completed row per matchless click — the watermark-driven
    emission inner joins cannot produce — and (b) agree with the
    batch left interval join row-for-row."""
    from flink_engagement_pipeline_spark.sources.tables import load_table
    from flink_engagement_pipeline_spark.streaming.pipeline import (
        click_purchase_join,
    )

    got = REGISTRY["stream_outer_join_replay"].spark(spark, sf_dir).collect()
    nulls = [r for r in got if r["purchase_id"] == -1]
    assert nulls, "no null-completed rows — outer path not exercised"
    for r in nulls:
        assert r["purchase_ts"] is None and r["purchase_value"] is None

    ev = load_table(spark, sf_dir, "events")
    batch = click_purchase_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        how="left_outer",
    ).select(
        "user_id",
        "click_id",
        "click_ts",
        F.coalesce("purchase_id", F.lit(-1).cast("long")).alias(
            "purchase_id"
        ),
        "purchase_ts",
        "purchase_value",
    )
    key = lambda r: (  # noqa: E731
        r["user_id"],
        r["click_id"],
        str(r["click_ts"]),
        r["purchase_id"],
        str(r["purchase_ts"]),
        str(r["purchase_value"]),
    )
    assert sorted(map(key, got)) == sorted(map(key, batch.collect()))


def test_stream_full_outer_join_emits_both_null_sides(spark, sf_dir):
    """The full-outer replay must null-complete BOTH sides (purchases
    with no preceding click emit with click_id == -1 — the emission
    the left-outer form cannot produce) and agree with the batch full
    outer interval join row-for-row."""
    from flink_engagement_pipeline_spark.sources.tables import load_table
    from flink_engagement_pipeline_spark.streaming.pipeline import (
        click_purchase_join,
    )

    got = (
        REGISTRY["stream_full_outer_join_replay"].spark(spark, sf_dir).collect()
    )
    left_nulls = [r for r in got if r["purchase_id"] == -1]
    right_nulls = [r for r in got if r["click_id"] == -1]
    assert left_nulls, "no matchless clicks emitted"
    assert right_nulls, "no matchless purchases emitted"
    for r in right_nulls:
        assert r["click_ts"] is None and r["user_id"] is not None

    ev = load_table(spark, sf_dir, "events")
    batch = click_purchase_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        how="full_outer",
    ).select(
        "user_id",
        F.coalesce("click_id", F.lit(-1).cast("long")).alias("click_id"),
        "click_ts",
        F.coalesce("purchase_id", F.lit(-1).cast("long")).alias(
            "purchase_id"
        ),
        "purchase_ts",
        "purchase_value",
    )
    key = lambda r: (  # noqa: E731
        r["user_id"],
        r["click_id"],
        str(r["click_ts"]),
        r["purchase_id"],
        str(r["purchase_ts"]),
        str(r["purchase_value"]),
    )
    assert sorted(map(key, got)) == sorted(map(key, batch.collect()))


def test_neardup_index_pandas_impl_matches_catalyst(spark):
    """The Arrow-batched numpy-matmul bucket projection (the
    documented scale path once the hyperplane geometry outgrows
    literal Catalyst expressions) must produce IDENTICAL (vec_id, t,
    bucket) rows to the oracle-pinned Catalyst fold — at the registry
    default (16x8) and at a probe geometry (4x14)."""
    from flink_engagement_pipeline_spark.llm import similarity as ls
    from flink_engagement_pipeline_spark.sources.datagen import (
        gen_embeddings,
    )

    emb = gen_embeddings(spark, 500)
    for tables, planes in ((16, 8), (4, 14)):
        cat = sorted(
            (r["vec_id"], r["t"], r["bucket"])
            for r in ls.neardup_index(emb, tables, planes).collect()
        )
        pan = sorted(
            (r["vec_id"], r["t"], r["bucket"])
            for r in ls.neardup_index(
                emb, tables, planes, impl="pandas"
            ).collect()
        )
        assert cat == pan, (tables, planes)


# ---------------------------------------------------------------------------
# within-doc repetition signals
# ---------------------------------------------------------------------------


def test_repeated_spans_planted_signals(spark):
    """Planted documents with known top-bigram counts and repeated
    5-gram coverage: the dominant bigram's count and the merged
    5-gram interval coverage must be exact, and a repeat-free doc
    reports zeros."""
    from flink_engagement_pipeline_spark.llm.text import repetition_stats

    five = " ".join(f"x{i}" for i in range(5))
    docs = [
        # "a b" appears 3 times (tokens: a b a b a b -> bigrams
        # ab, ba, ab, ba, ab), 6 tokens total
        (0, "a b a b a b"),
        # the same 5-gram twice, separated -> two unmerged intervals,
        # 10 covered tokens of 11
        (1, f"{five} sep {five}"),
        (2, "all distinct words here nothing ever repeats twice"),
    ]
    frame = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_stats(frame).collect()}
    assert out[0]["top_bigram_n"] == 3
    assert out[0]["top_bigram_frac"] == 6 / 6
    assert out[0]["rep5_tokens"] == 0  # 6 tokens: no repeated 5-gram
    assert out[1]["rep5_tokens"] == 10
    assert out[1]["rep5_frac"] == 10 / 11
    assert out[1]["top_bigram_n"] == 2  # any x_i x_{i+1} pair twice
    assert out[2]["top_bigram_n"] == 1
    assert out[2]["rep5_tokens"] == 0
    assert out[2]["rep5_frac"] == 0.0


def test_repeated_spans_overlapping_runs_merge(spark):
    """An L-token repeated run (L > 5) must be covered by ONE merged
    interval of exactly L tokens per copy — overlapping 5-gram
    anchors never double-count."""
    from flink_engagement_pipeline_spark.llm.text import repetition_stats

    run = " ".join(f"r{i}" for i in range(8))  # L = 8
    frame = spark.createDataFrame(
        [(0, f"{run} mid1 mid2 {run}")], "doc_id long, text string"
    )
    (row,) = repetition_stats(frame).collect()
    assert row["rep5_tokens"] == 16  # two maximal intervals of 8
    assert row["n_tokens"] == 18


# ---------------------------------------------------------------------------
# exact-substring scrub
# ---------------------------------------------------------------------------


def test_substring_scrub_removes_all_copies(spark):
    """Every copy of a corpus-shared >=N-token span is excised from
    every document (boilerplate-removal policy), survivors re-join in
    order, and an unaffected document passes through verbatim."""
    from flink_engagement_pipeline_spark.llm.dedup import substring_scrub
    from flink_engagement_pipeline_spark.plans.queries_ext5 import _SUB_N

    span = " ".join(f"s{i}" for i in range(_SUB_N))
    clean = "totally original words with no shared spans anywhere"
    docs = [
        (0, f"head1 head2 {span} tail1 tail2"),
        (1, f"{span} only trailing words"),
        (2, clean),
    ]
    frame = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in substring_scrub(frame, _SUB_N).collect()}
    assert out[0]["scrubbed_text"] == "head1 head2 tail1 tail2"
    assert out[0]["kept_tokens"] == 4
    assert out[1]["scrubbed_text"] == "only trailing words"
    assert out[2]["scrubbed_text"] == clean
    assert out[2]["kept_tokens"] == out[2]["n_tokens"]


def test_substring_scrub_can_empty_a_document(spark):
    """A document that is entirely one shared span scrubs to the
    empty string (kept_tokens = 0) rather than disappearing from the
    output roster."""
    from flink_engagement_pipeline_spark.llm.dedup import substring_scrub
    from flink_engagement_pipeline_spark.plans.queries_ext5 import _SUB_N

    span = " ".join(f"e{i}" for i in range(_SUB_N))
    docs = [(0, span), (1, f"pre {span} post")]
    frame = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in substring_scrub(frame, _SUB_N).collect()}
    assert out[0]["kept_tokens"] == 0
    assert out[0]["scrubbed_text"] == ""
    assert out[1]["scrubbed_text"] == "pre post"


# ---------------------------------------------------------------------------
# exact percentiles
# ---------------------------------------------------------------------------


def test_latency_quantiles_match_numpy(spark, sf_dir):
    """p50/p90/p99 must equal numpy's linear-interpolation percentile
    of the integer-cent values, quantized identically — an
    independent third implementation agreeing with both engines."""
    import numpy as np

    from flink_engagement_pipeline_spark.plans.registry import REGISTRY

    got = {
        r["event_type"]: r
        for r in REGISTRY["events_latency_quantiles"].spark(spark, sf_dir).collect()
    }
    import duckdb

    rows = duckdb.sql(
        f"SELECT event_type, value FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    by_type: dict[str, list[int]] = {}
    for et, v in rows:
        if v is None:
            continue
        cents = int(np.floor(v * 100 + 0.5)) if v >= 0 else -int(
            np.floor(-v * 100 + 0.5)
        )
        by_type.setdefault(et, []).append(cents)
    for et, cents in by_type.items():
        for p, col in ((50, "p50_value"), (90, "p90_value"), (99, "p99_value")):
            q = np.percentile(np.array(cents, dtype="float64"), p)
            expect = float(np.floor(q * 1e6 + 0.5)) / 1e8
            assert got[et][col] == expect, (et, col, got[et][col], expect)


def test_quantile_interpolation_cross_engine_bit_equality(spark):
    """ADVICE r7 pin: events_latency_quantiles' hash gate assumes
    Spark `percentile` and DuckDB `quantile_cont` interpolate to
    bit-identical doubles BEFORE the floor(q*1e6+0.5) quantization.
    This pins that on adversarial boundary inputs — cents at 2^52
    magnitude (where the ULP of q*1e6 is far larger than the +0.5
    rounding margin, so ANY interpolation-form divergence flips the
    floored integer), odd gaps, and p*(n-1) fractions with no exact
    binary representation. Asserts RAW repr equality, stricter than
    the gate needs; a failure here means the query's quantization
    must be coarsened, not that data changed."""
    import random

    import duckdb

    random.seed(7)
    cases = [
        [2**52 - 1 - 2 * i for i in range(25)],
        [10**15 + i * 3 for i in range(13)],
        [-(2**52) + 7 * i for i in range(8)],
    ]
    for _ in range(12):
        n = random.randrange(2, 40)
        cases.append([random.randrange(-(2**52), 2**52) for _ in range(n)])
    ps = [0.5, 0.9, 0.99, 0.1, 0.333, 0.77]
    con = duckdb.connect()
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "c long")
        srow = df.agg(F.percentile("c", F.lit(ps)).alias("q")).collect()[0][
            "q"
        ]
        drow = con.execute(
            "SELECT quantile_cont(c, ?) FROM (SELECT unnest(?) c)",
            [ps, vals],
        ).fetchone()[0]
        for p, s, d in zip(ps, srow, drow):
            assert repr(s) == repr(float(d)), (p, vals[:4], s, d)


# ---------------------------------------------------------------------------
# exact k-NN graph
# ---------------------------------------------------------------------------


def test_knn_graph_matches_numpy_bruteforce(spark):
    """The blocked all-pairs graph must equal a dense numpy cosine
    top-k (ties -> smaller neighbor id) for every vector."""
    import numpy as np

    from flink_engagement_pipeline_spark.llm.similarity import knn_graph
    from flink_engagement_pipeline_spark.sources.datagen import (
        gen_embeddings,
    )

    emb = gen_embeddings(spark, 300)
    mat_rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in mat_rows])
    mat = np.array([r["embedding"] for r in mat_rows], dtype="float64")
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = norm @ norm.T
    got = sorted(
        (r["a_id"], r["rn"], r["b_id"])
        for r in knn_graph(emb, k=3).collect()
    )
    expect = []
    order = np.argsort(ids)
    for ai in range(len(ids)):
        sims = [
            (-cos[ai, bi], ids[bi])
            for bi in range(len(ids))
            if ids[bi] != ids[ai]
        ]
        sims.sort()
        for rn, (_negc, bid) in enumerate(sims[:3], start=1):
            expect.append((ids[ai], rn, bid))
    assert got == sorted(expect)
    del order


def test_knn_graph_refuses_oversized_corpus(spark):
    """knn_graph is the documented O(n^2) calibration baseline; above
    max_rows it must refuse loudly (pointing at the ANN family)
    instead of silently scheduling a corpus x blocks replicated join
    (ADVICE/verdict r8 ask #7). An explicit max_rows override is the
    deliberate-calibration escape hatch."""
    import pytest as _pytest

    from flink_engagement_pipeline_spark.llm.similarity import knn_graph
    from flink_engagement_pipeline_spark.sources.datagen import (
        gen_embeddings,
    )

    emb = gen_embeddings(spark, 50)
    with _pytest.raises(ValueError, match="O\\(n\\^2\\).*ANN"):
        knn_graph(emb, k=3, max_rows=10)
    # explicit override proceeds
    assert knn_graph(emb, k=1, max_rows=50).count() == 50


# ---------------------------------------------------------------------------
# streaming absence detection (event-time timers)
# ---------------------------------------------------------------------------


def _write_event_file(spark, rows, path, stage):
    """One parquet file of (event_id, ts_us, user_id, event_type)
    rows, built JVM-side (a Python createDataFrame write costs ~5 s
    flat — the sentinel-staging rule in queries_stream.py), written
    through the scratch dir ``stage``."""
    import glob
    import shutil

    df = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(e).cast("long").alias("event_id"),
                        F.timestamp_micros(F.lit(us)).alias("ts"),
                        F.lit(u).cast("long").alias("user_id"),
                        F.lit(t).alias("event_type"),
                        F.lit(None).cast("double").alias("value"),
                        F.lit("{}").alias("props"),
                    )
                    for e, us, u, t in rows
                ]
            )
        )
    )
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
    shutil.copy(part, path)


def test_abandoned_clicks_state_machine(spark, tmp_path):
    """The absence detector across micro-batches: an in-window
    purchase cancels (same batch or later batch), an out-of-window
    purchase does not, emission happens only once the watermark
    passes the click's deadline, and the timer chain re-arms for
    later deadlines (the re-registered-timeout path)."""
    import time as _time

    from flink_engagement_pipeline_spark.streaming.stateful import (
        abandoned_clicks,
    )

    H = 3_600_000_000  # 1h in us
    S = 1_000_000  # 1s
    batches = [
        # batch 0: u1 click cancelled in-batch; u2 click + too-late
        # purchase (abandoned); u3 click awaiting batch-1 purchase;
        # u4 two clicks with distinct deadlines (timer re-arm chain)
        [
            (10, 1000 * S, 1, "click"),
            (11, 1000 * S + H - 1, 1, "purchase"),
            (20, 1000 * S, 2, "click"),
            (21, 1000 * S + H, 2, "purchase"),  # exactly +1h: outside
            (30, 5000 * S, 3, "click"),
            (40, 2000 * S, 4, "click"),
            (41, 9000 * S, 4, "click"),
        ],
        # batch 1: u3's purchase lands in-window (cross-batch cancel)
        [(31, 5000 * S + 100, 3, "purchase")],
        # batch 2: sentinel advances wm past u4's first deadline only
        [(90, 7000 * S, -9, "sentinel")],
        # batch 3: sentinel advances wm past everything
        [(91, 20000 * S, -8, "sentinel")],
        # batches 4-5: drains flushing lagged timer firings
        [(92, 20001 * S, -7, "sentinel")],
        [(93, 20002 * S, -6, "sentinel")],
    ]
    ev_dir = tmp_path / "ev"
    ev_dir.mkdir()
    now = _time.time()
    for i, rows in enumerate(batches):
        f = str(ev_dir / f"{chr(97 + i)}.parquet")
        _write_event_file(spark, rows, f, str(tmp_path / "stage"))
        os.utime(f, (now + 60 * i, now + 60 * i))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(ev_dir))
    )
    got: list[tuple] = []

    def _collect(df, _bid):
        got.extend(
            (r["user_id"], r["click_id"], r["click_ts_us"])
            for r in df.collect()
        )

    (
        abandoned_clicks(stream)
        .writeStream.foreachBatch(_collect)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert sorted(got) == [
        (2, 20, 1000 * S),  # purchase at exactly +1h does not cancel
        (4, 40, 2000 * S),  # first deadline of the re-arm chain
        (4, 41, 9000 * S),  # second deadline, fired after re-arm
    ]


def test_abandoned_clicks_cross_batch_purchase_before_click(spark, tmp_path):
    """ADVICE r7 regression: micro-batch arrival order is not
    event-time order. A click delivered one batch AFTER its
    same-window purchase (allowed within the watermark delay), and an
    equal-timestamp click delivered after its purchase, must BOTH be
    cancelled by the retained-purchase state — the no-purchase-state
    version falsely emitted them as abandoned. A control click with
    no purchase proves the detector still fires."""
    import time as _time

    from flink_engagement_pipeline_spark.streaming.stateful import (
        abandoned_clicks,
    )

    S = 1_000_000  # 1s in us
    batches = [
        # batch 0: purchases arrive FIRST (wm after this batch:
        # 3000s - 60s delay = 2940s)
        [
            (50, 3000 * S, 5, "purchase"),
            (60, 3000 * S, 6, "purchase"),
        ],
        # batch 1: the matching clicks arrive late-but-in-bound
        # (u5 at 2950s >= wm, window contains its purchase; u6 at the
        # purchase's exact timestamp), plus the never-purchased u7
        [
            (51, 2950 * S, 5, "click"),
            (61, 3000 * S, 6, "click"),
            (71, 2960 * S, 7, "click"),
        ],
        # batch 2: sentinel advances wm past every deadline
        [(90, 20000 * S, -9, "sentinel")],
        # batches 3-4: drains flushing lagged timer firings
        [(91, 20001 * S, -8, "sentinel")],
        [(92, 20002 * S, -7, "sentinel")],
    ]
    ev_dir = tmp_path / "ev"
    ev_dir.mkdir()
    now = _time.time()
    for i, rows in enumerate(batches):
        f = str(ev_dir / f"{chr(97 + i)}.parquet")
        _write_event_file(spark, rows, f, str(tmp_path / "stage"))
        os.utime(f, (now + 60 * i, now + 60 * i))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(ev_dir))
    )
    got: list[tuple] = []

    def _collect(df, _bid):
        got.extend(
            (r["user_id"], r["click_id"], r["click_ts_us"])
            for r in df.collect()
        )

    (
        abandoned_clicks(stream, watermark="60 seconds")
        .writeStream.foreachBatch(_collect)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert sorted(got) == [(7, 71, 2960 * S)]


def test_abandoned_clicks_watermark_not_starved_by_scan_pruning(spark):
    """Regression pin for the filter-pushdown watermark stall: the
    operator's plan must NOT push an event_type/user_id filter into
    the streaming scan (filtering happens inside the stateful
    function), otherwise rows of other event types stop feeding the
    watermark and timers never fire (measured failure mode)."""
    from flink_engagement_pipeline_spark.streaming.stateful import (
        abandoned_clicks,
    )

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).parquet("/root/testdata")  # never started; plan-only
    plan = abandoned_clicks(stream)._jdf.queryExecution().analyzed().toString()
    assert "Filter" not in plan, plan


def test_abandoned_clicks_rejects_oversized_watermark_delay(spark):
    """The purchase-retention eviction bound is only sufficient when
    the watermark delay <= the 1 h abandon window (ADVICE r8): with a
    larger delay a late click could find its cancelling purchase
    already evicted. The public API must refuse such a config."""
    import pytest as _pytest

    from flink_engagement_pipeline_spark.operators.windows import (
        parse_interval_us,
    )
    from flink_engagement_pipeline_spark.streaming.stateful import (
        abandoned_clicks,
    )

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ).parquet("/root/testdata")  # never started; validation is eager
    with _pytest.raises(ValueError, match="exceeds"):
        abandoned_clicks(stream, watermark="61 minutes")
    with _pytest.raises(ValueError, match="unparseable"):
        abandoned_clicks(stream, watermark="soon")
    # boundary and compound forms accepted
    abandoned_clicks(stream, watermark="1 hour")
    abandoned_clicks(stream, watermark="30 minutes 1800 seconds")
    assert parse_interval_us("1 hour") == 3_600_000_000
    assert parse_interval_us("2 minutes 5 seconds") == 125_000_000


# ---------------------------------------------------------------------------
# BPE-token bigram LM (tokenizer -> encoder -> quality filter)
# ---------------------------------------------------------------------------


def test_bpe_perplexity_matches_pure_python(spark, sf_dir):
    """docs_bpe_perplexity must equal a fully-independent Python
    pipeline: train merges, encode every doc, count id bigrams,
    add-k smooth, quantize each ln to nano-nats, sum per doc."""
    import math

    import duckdb

    from flink_engagement_pipeline_spark.llm.text import (
        BPE_LM_ADD_K,
        BPE_MERGES,
    )

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    _m, seqs, ids = _py_bpe([t for _, t in rows], BPE_MERGES)
    doc_ids = {}
    for doc_id, t in rows:
        doc_ids[doc_id] = [
            ids[sym] for w in t.split(" ") if w for sym in seqs[w]
        ]
    bgs = {
        d: list(zip(s, s[1:])) for d, s in doc_ids.items() if len(s) > 1
    }
    c12: dict[tuple[int, int], int] = {}
    c1: dict[int, int] = {}
    for pairs in bgs.values():
        for p in pairs:
            c12[p] = c12.get(p, 0) + 1
            c1[p[0]] = c1.get(p[0], 0) + 1
    v = len({b for _, b in c12})
    q = {
        p: math.floor(
            math.log((c + BPE_LM_ADD_K) / (c1[p[0]] + BPE_LM_ADD_K * v))
            * 1e9
            + 0.5
        )
        for p, c in c12.items()
    }
    want = {}
    for d, pairs in bgs.items():
        if not pairs:
            continue
        sq = sum(q[p] for p in pairs)
        lp = sq / 1e9
        want[d] = (len(pairs), lp, -lp / len(pairs))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["logprob"], r["xent"])
        for r in REGISTRY["docs_bpe_perplexity"].spark(spark, sf_dir).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# dynamic-gap session windows
# ---------------------------------------------------------------------------


def test_dynamic_session_long_gap_bridges_short_successor(spark):
    """A long-gap event must hold the session open ACROSS a
    short-gap successor's horizon: purchase (30 min) at t=0, click
    (10 min) at t=20min, click at t=28min — the naive lag-based rule
    (split when delta >= successor gap) would split before the third
    event (delta 8 min < 10 min keeps it, but delta 20 min >= 10 min
    would split the second); true interval-merge keeps all three in
    ONE session ending at t=38min."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.plans.registry import REGISTRY

    M = 60 * 1_000_000
    rows = [
        (1, 0 * M, 7, "purchase", 1.0),
        (2, 20 * M, 7, "click", 1.0),
        (3, 28 * M, 7, "click", 1.0),
        # control: same shape but first event is a click (10 min gap)
        # -> splits at t=20min into two sessions
        (4, 0 * M, 8, "click", 1.0),
        (5, 20 * M, 8, "click", 1.0),
        (6, 28 * M, 8, "click", 1.0),
    ]
    ev = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(e).cast("long").alias("event_id"),
                        F.timestamp_micros(F.lit(us)).alias("ts"),
                        F.lit(u).cast("long").alias("user_id"),
                        F.lit(t).alias("event_type"),
                        F.lit(v).cast("double").alias("value"),
                        F.lit("{}").alias("props"),
                    )
                    for e, us, u, t, v in rows
                ]
            )
        )
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    out = (
        ev.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "session_window.end", "n")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r["n"])
    assert sorted(by_user[7]) == [3]  # one bridged session
    assert sorted(by_user[8]) == [1, 2]  # control splits


def test_dynamic_session_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming dynamic-gap sessions (the same gap EXPRESSION driving
    session_windowed_stream) must equal the batch dynamic
    sessionization once the watermark passes every session's end —
    the sentinel+drain replay device with a 2 h horizon covering the
    30 min purchase gap."""
    import os as _os

    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.plans.queries_stream import (
        _staged_sentinel_drain_dir,
    )
    from flink_engagement_pipeline_spark.plans.registry import REGISTRY
    from flink_engagement_pipeline_spark.streaming.pipeline import (
        run_session_windowed,
    )
    from flink_engagement_pipeline_spark.streaming.sinks import (
        IdempotentParquetSink,
    )

    events_dir = _staged_sentinel_drain_dir(
        spark, sf_dir, str(tmp_path), ((-1, -1, "sentinel"),), 2
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    run_session_windowed(
        spark,
        events_dir,
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        gap=gap,
        max_files_per_trigger=1,
    )
    got = sorted(
        (r["user_id"], r["window_start"], r["window_end"], r["engagement_sum"])
        for r in sink.read_committed(spark).collect()
    )
    batch = REGISTRY["session_windows_dynamic"].spark(spark, sf_dir)
    want = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["sum_value"])
        for r in batch.collect()
    )
    assert got == want
