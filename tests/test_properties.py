"""Property-based tests (hypothesis): operator semantics verified
against brute-force Python reimplementations on randomized inputs —
catches edge cases the fixture data can't (empty groups, ties, single
rows, all-duplicate keys)."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from flink_engagement_pipeline_spark.operators.asof import asof_join_backward
from flink_engagement_pipeline_spark.operators.dedup import latest_per_key

BASE = datetime.datetime(2024, 1, 1)

# small scalar domains force key/timestamp collisions (the hard cases)
_key = st.integers(min_value=0, max_value=3)
_t_off = st.integers(min_value=0, max_value=10)
_val = st.integers(min_value=0, max_value=5)

events_strategy = st.lists(
    st.tuples(st.integers(0, 5), _key, _t_off, _val), min_size=1, max_size=12
)
orders_strategy = st.lists(st.tuples(_key, _t_off, _val), min_size=0, max_size=12)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _ts(off: int) -> datetime.datetime:
    return BASE + datetime.timedelta(hours=off)


@given(rows=events_strategy)
@_SETTINGS
def test_latest_per_key_property(spark, rows):
    df = spark.createDataFrame(
        [
            (eid, _ts(t), key, "view", float(v), "{}")
            for eid, key, t, v in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {
        r["event_id"]: (r["ts"], r["value"], r["user_id"])
        for r in latest_per_key(df, key="event_id", version="ts").collect()
    }
    # brute force: per event_id pick the max under the operator's full
    # descending total order (ts, value, [const event_type], user_id)
    expect: dict = {}
    for eid, key, t, v in rows:
        cand = (_ts(t), float(v), key)
        if eid not in expect or cand > expect[eid]:
            expect[eid] = cand
    assert set(got) == set(expect)
    for eid in expect:
        assert got[eid] == expect[eid]


@given(left=events_strategy, right=orders_strategy)
@_SETTINGS
def test_asof_join_property(spark, left, right):
    ldf = spark.createDataFrame(
        [(eid, key, _ts(t), float(v)) for eid, key, t, v in left],
        "event_id long, user_id long, ts timestamp, value double",
    )
    rdf = spark.createDataFrame(
        [(key, _ts(t), 1000 + i, float(v)) for i, (key, t, v) in enumerate(right)],
        "o_custkey long, o_orderdate timestamp, o_orderkey long, o_totalprice double",
    )
    got = {
        (r["event_id"], r["user_id"], r["ts"]): r["o_orderkey"]
        for r in asof_join_backward(
            ldf,
            rdf,
            left_key="user_id",
            right_key="o_custkey",
            left_time="ts",
            right_time="o_orderdate",
            payload_cols=["o_orderkey", "o_totalprice"],
            tiebreak="o_orderkey",
        ).collect()
    }
    assert len(got) >= len({(e, k, t) for e, k, t, _ in left}) or len(left) >= len(got)
    for eid, key, t, v in left:
        # brute force: latest order (by date, then orderkey) with
        # matching key and date <= event time
        cands = [
            (_ts(rt), 1000 + i)
            for i, (rk, rt, _) in enumerate(right)
            if rk == key and _ts(rt) <= _ts(t)
        ]
        expect = max(cands)[1] if cands else None
        assert got[(eid, key, _ts(t))] == expect, (eid, key, t)


cdc_strategy = st.lists(
    st.tuples(
        _key,                              # row key
        st.sampled_from(["u", "d"]),       # op
        st.integers(min_value=0, max_value=8),  # seq (collisions likely)
        _val,
    ),
    min_size=1,
    max_size=14,
)


@given(history=cdc_strategy)
@_SETTINGS
def test_cdc_materialize_property(spark, history):
    """materialize == (latest change per key under the (seq, val) total
    order; drop keys whose latest op is a delete) — brute-forced on
    random histories with heavy seq collisions. Histories where a 'u'
    and a 'd' tie on the full (seq, val) order are skipped: the
    survivor op is genuinely undefined there."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from flink_engagement_pipeline_spark.sources import cdc

    row_schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("val", T.LongType(), True),
            T.StructField("seq", T.LongType(), False),
            T.StructField("op_tag", T.StringType(), True),
        ]
    )
    full = spark.createDataFrame(
        [(k, v, s, op) for k, op, s, v in history],
        "id long, val long, seq long, op_tag string",
    )
    wire = cdc.to_cdc_envelope(full, op=F.col("op_tag"), ts_ms=F.col("seq"))
    parsed = cdc.parse_cdc_envelope(wire, row_schema)
    got = {
        r["id"]: r["val"]
        for r in cdc.materialize(
            parsed.drop("op_tag"), key="id", order=["seq", "val"]
        ).collect()
    }
    best: dict = {}
    ambiguous = False
    for k, op, s, v in history:
        cand = (s, v)
        if k not in best or cand > best[k][0]:
            best[k] = (cand, op)
        elif cand == best[k][0] and op != best[k][1]:
            ambiguous = True
    if ambiguous:
        return
    expect = {k: c[0][1] for k, c in best.items() if c[1] != "d"}
    assert got == expect


hop_events = st.lists(
    st.tuples(_key, st.integers(min_value=0, max_value=40), _val),
    min_size=1,
    max_size=15,
)


@given(rows=hop_events, slide_s=st.sampled_from([5, 10]))
@example(rows=[(0, 7, 1)], slide_s=10)
@_SETTINGS
def test_hop_two_phase_property(spark, rows, slide_s):
    """The two-phase single-shuffle HOP plan must equal the brute-force
    definition: an event at t belongs to every window starting at
    floor(t/slide)*slide - k*slide, k in [0, size/slide). Slides of
    5 s and 10 s both run, so the plan must honour its ``slide``."""
    from decimal import Decimal

    from flink_engagement_pipeline_spark.operators.windows import (
        hop_engagement_sum,
    )

    df = spark.createDataFrame(
        [(i, key, _ts(0) + datetime.timedelta(seconds=t), float(v), "view", "{}")
         for i, (key, t, v) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, value double, event_type string, props string",
    )
    size_s = 20
    got = {
        (r["window_start"], r["user_id"]): Decimal(str(r["engagement_sum"]))
        for r in hop_engagement_sum(
            df, size=f"{size_s} seconds", slide=f"{slide_s} seconds"
        ).collect()
    }
    expect: dict = {}
    for key, t, v in rows:
        t_abs = _ts(0) + datetime.timedelta(seconds=t)
        slide_start = _ts(0) + datetime.timedelta(
            seconds=(t // slide_s) * slide_s
        )
        for k in range(size_s // slide_s):
            ws = slide_start - datetime.timedelta(seconds=k * slide_s)
            expect[(ws, key)] = expect.get((ws, key), Decimal(0)) + Decimal(v)
    assert set(got) == set(expect)
    for k in expect:
        assert got[k] == expect[k], k


def test_hop_rejects_size_not_a_multiple_of_slide(spark):
    """Slice pre-aggregation is lossless only when every window is a
    whole number of slides, so any other size/slide pair is refused."""
    import pytest

    from flink_engagement_pipeline_spark.operators.windows import (
        hop_engagement_sum,
    )

    df = spark.createDataFrame(
        [(0, 1, _ts(0), 1.0, "view", "{}")],
        "event_id long, user_id long, ts timestamp, value double, event_type string, props string",
    )
    with pytest.raises(ValueError, match="multiple of slide"):
        hop_engagement_sum(df, size="20 seconds", slide="15 seconds")


def test_cumulate_hour_span_matches_brute_force(spark):
    """CUMULATE with an hour-unit max size: expanding windows
    [span, span + j*10min) for j = 1..6 over each hour span must hold
    exactly the events before their end."""
    from decimal import Decimal

    from flink_engagement_pipeline_spark.operators.windows import (
        cumulate_engagement_sum,
    )

    rows = [(1, 0, 1.25), (1, 599, 2.0), (1, 600, 0.5), (2, 3599, 3.0), (1, 3600, 4.0)]
    df = spark.createDataFrame(
        [(i, key, _ts(0) + datetime.timedelta(seconds=t), v, "view", "{}")
         for i, (key, t, v) in enumerate(rows)],
        "event_id long, user_id long, ts timestamp, value double, event_type string, props string",
    )
    got = {
        (r["window_start"], r["window_end"], r["user_id"]): Decimal(str(r["engagement_sum"]))
        for r in cumulate_engagement_sum(
            df, max_size="1 hour", step="10 minutes"
        ).collect()
    }
    expect: dict = {}
    for key, t, v in rows:
        span = (t // 3600) * 3600
        for j in range((t % 3600) // 600 + 1, 7):
            k = (
                _ts(0) + datetime.timedelta(seconds=span),
                _ts(0) + datetime.timedelta(seconds=span + j * 600),
                key,
            )
            expect[k] = expect.get(k, Decimal(0)) + Decimal(str(v))
    assert got == expect


# small word alphabet forces shared shingles between random docs
_word = st.sampled_from(["a", "b", "c", "d", "e"])
docs_strategy = st.lists(
    st.lists(_word, min_size=1, max_size=8), min_size=1, max_size=8
)


def _py_shingles(ws: list[str], n: int = 3) -> set:
    if len(ws) >= n:
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}
    return {" ".join(ws)}


@given(doc_words=docs_strategy)
@_SETTINGS
def test_ngram_jaccard_pairs_property(spark, doc_words):
    """Exact Jaccard pairs vs a brute-force Python reimplementation on
    random small docs — covers docs shorter than the shingle width,
    identical docs, disjoint docs, and every tie the fixture lacks."""
    from flink_engagement_pipeline_spark.llm.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(doc_words)],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.3).collect()
    }
    sets = {i: _py_shingles(ws) for i, ws in enumerate(doc_words)}
    expect = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] & sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= 0.3:
                    expect[(a, b)] = j
    assert set(got) == set(expect)
    for pair, j in expect.items():
        assert abs(got[pair] - j) < 1e-12, pair


@given(rows=st.lists(st.tuples(_key, _val), min_size=0, max_size=14))
@_SETTINGS
def test_global_row_number_property(spark, rows):
    """Distributed numbering == the single-task window's output for
    any multiset of keys, provided the order is total (tiebreak on a
    unique id)."""
    from flink_engagement_pipeline_spark.operators.rank import global_row_number

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "uid long, k long, v long"
    )
    if not rows:
        out = global_row_number(df, ["k", "v", "uid"], num_partitions=3)
        assert out.count() == 0
        return
    got = {
        r["uid"]: r["row_num"]
        for r in global_row_number(df, ["k", "v", "uid"], num_partitions=3).collect()
    }
    order = sorted(
        ((k, v, i) for i, (k, v) in enumerate(rows))
    )
    expect = {uid: pos + 1 for pos, (_, _, uid) in enumerate(order)}
    assert got == expect


@given(
    toks=st.lists(
        st.sampled_from(
            # every stopword from all four lists + non-stopword noise
            [t for sw in __import__(
                "flink_engagement_pipeline_spark.llm.text", fromlist=["STOPWORDS"]
            ).STOPWORDS.values() for t in sw]
            + ["zzz", "qqq", "foo", "42"]
        ),
        min_size=0,
        max_size=30,
    )
)
@_SETTINGS
def test_packed_stopword_counts_match_per_lang_filters(spark, toks):
    """The single-pass packed stopword counter must be count-identical
    to four independent list_filter passes for ANY token multiset —
    the exactness contract that lets lang_pred/quality share one
    traversal (valid because the lists are pairwise disjoint)."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.llm.text import (
        STOPWORDS,
        stopword_hits,
        stopword_hits_all,
    )

    df = spark.createDataFrame([(" ".join(toks),)], "text string")
    packed = stopword_hits_all("text")
    row = df.select(
        *[packed[lang].alias(f"p_{lang}") for lang in STOPWORDS],
        *[stopword_hits("text", lang).alias(f"f_{lang}") for lang in STOPWORDS],
    ).collect()[0]
    for lang in STOPWORDS:
        assert row[f"p_{lang}"] == row[f"f_{lang}"], (lang, toks)


def test_portable_minhash_hexint_matches_python(spark):
    """The portable MinHash's shingle integer (first 12 md5 hex chars
    via conv(_,16,10)) must equal Python's int(md5[:12], 16) — the
    cross-language contract the SQL oracle's ('0x'||h)::BIGINT form
    also relies on. Pinned over arbitrary strings."""
    import hashlib

    from pyspark.sql import functions as F

    samples = ["", "a", "spark", "the fast key", "żółć", "0" * 40, "x y z"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {
        r["s"]: r["x"]
        for r in df.select(
            "s",
            F.conv(F.substring(F.md5(F.col("s")), 1, 12), 16, 10)
            .cast("long")
            .alias("x"),
        ).collect()
    }
    for s in samples:
        want = int(hashlib.md5(s.encode()).hexdigest()[:12], 16)
        assert got[s] == want, s


def test_pq_identical_vectors_get_identical_codes(spark):
    """PQ encoding is a pure function of the vector: a planted exact
    duplicate must receive exactly the same 8 codes (and therefore the
    same ADC distance estimate) as its original."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.llm import pq
    from flink_engagement_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    dup = emb.filter(F.col("vec_id") == 3).select(
        F.lit(100000).cast("long").alias("vec_id"),
        "embedding",
        "label",
    )
    planted = emb.unionByName(dup)
    books = pq.train_codebooks(planted)
    codes = {
        r["vec_id"]: tuple(r[f"c{s}"] for s in range(pq.PQ_M))
        for r in pq.encode(planted, books).collect()
    }
    assert codes[100000] == codes[3]


def test_ewma_is_shift_invariant_linear(spark):
    """EWMA is linear: scaling every value by c scales the result by
    c exactly when c is a power of two (exact in binary floating
    point) — a fold-correctness property that would catch any
    reordering of the recurrence."""
    from pyspark.sql import functions as F

    from flink_engagement_pipeline_spark.plans import REGISTRY
    from flink_engagement_pipeline_spark.sources.tables import load_table

    base = {
        r["user_id"]: r["ewma_value"]
        for r in REGISTRY["events_ewma"].spark(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    ev = load_table(spark, "/root/testdata/sf0.001", "events").filter(
        F.col("value").isNotNull()
    )
    scaled = ev.withColumn("value", F.col("value") * 4.0)
    vals = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
    )
    ewma = F.aggregate(
        vals,
        F.lit(0.0),
        lambda acc, s: acc * F.lit(0.875) + s["value"] * F.lit(0.125),
    )
    got = {
        r["user_id"]: r["e"]
        for r in scaled.groupBy("user_id").agg(ewma.alias("e")).collect()
    }
    for uid, e in base.items():
        assert got[uid] == e * 4.0


@given(
    st.integers(min_value=0, max_value=10_000_000),
    st.sampled_from([(10, 2), (10, 5), (6, 1), (8, 4)]),
)
@settings(max_examples=200, deadline=None)
def test_cumulate_window_index_formula(ts, sizes):
    """cumulate_engagement_sum's closed-form window-index range —
    j in [(ts mod max) div step + 1, max/step] over span
    floor(ts/max)*max — must equal brute-force membership: event at
    ts belongs to expanding window [span, span + j*step) iff
    span + j*step > ts."""
    max_u, step_u = sizes
    span = (ts // max_u) * max_u
    formula = set(
        range((ts % max_u) // step_u + 1, max_u // step_u + 1)
    )
    brute = {
        j
        for j in range(1, max_u // step_u + 1)
        if span <= ts < span + j * step_u
    }
    assert formula == brute


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=100, deadline=None)
def test_bpe_replace_merge_preserves_concatenation(words):
    """BPE merge application (non-overlapping left-to-right replace on
    space-joined symbols, the docs_bpe_merges device) must preserve
    each word's character concatenation and never increase symbol
    count — for ANY pair, including the self-pair over 'aaaa...'
    runs where overlap semantics bite."""
    for w in words:
        seq = " ".join(w)
        for pair in [("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")]:
            a, b = pair
            merged = (
                (" " + seq + " ")
                .replace(f" {a} {b} ", f" {a}{b} ")
                .strip()
            )
            assert merged.replace(" ", "") == w
            assert len(merged.split(" ")) <= len(seq.split(" "))
