"""The main correctness gate, run locally: every registered query with
an oracle must hash-match DuckDB on the same fixtures (mirrors the
driver's CORRECTNESS check at sf0.01; we run sf0.001 for speed —
override with SPARK_GRAFT_TEST_SF_DIR).

The same pass enforces the registry-wide plan bans on the plan it just
executed, so no query is built twice: no row-at-a-time Python
(BatchEvalPython — the only Python boundary allowed is Arrow-batched
mapInPandas), no CartesianProduct (the operator that turns a 100 TB
input into a non-terminating job), and BroadcastNestedLoopJoin only on
the allowlist below. After execution the adaptive plan string carries
both its final and its initial plan, so a node either one planned is
caught."""

from __future__ import annotations

import pytest

from flink_engagement_pipeline_spark import plans

from .oracle_utils import assert_matches_oracle

SPECS = sorted(plans.REGISTRY.values(), key=lambda s: s.name)

# BroadcastNestedLoopJoin is tolerated only for these single-row /
# broadcast-tiny patterns (scalar-count cross joins, gap-fill spines,
# the one-probe ANN baseline); growing this set is a deliberate act,
# not drift — each entry carries its justification.
BNLJ_ALLOWED = {
    "conversion_funnel",        # two 1-row scalar-count cross joins
    "minute_rollup_gapfill",    # broadcast minute-spine x type dim
    "embedding_cosine_topk",    # single probe row x corpus (baseline)
    "embedding_near_dup",       # broadcast threshold pattern
    "embedding_ann_lsh",        # single probe row x bucket-pruned candidates
    "embedding_ann_ivf",        # single probe row x probed inverted lists
    "embedding_knn_join",       # broadcast Q-row probe batch x corpus
    "embedding_range_search",   # broadcast Q-row probe batch x corpus
    "docs_bm25",                # 1-row corpus-stats broadcast x docs
    "docs_unigram_logprob",     # 1-row token-total broadcast x vocab
    "docs_pmi_bigrams",         # 1-row corpus-totals broadcast x pairs
    "docs_quality_gate",        # 1-row percentile-threshold broadcast
    "embedding_ann_recall",     # composes the allowlisted 1-probe topks
    "docs_bigram_logprob",      # 1-row vocab-size broadcast x model
    "docs_bpe_perplexity",      # 1-row vocab-size broadcast x model (id LM)
    "embedding_matryoshka_rerank",  # single probe row x corpus (coarse)
    "audience_overlap",         # 1-row sketch-estimates x 1-row exacts
    "embedding_mmr_rerank",     # single probe row x corpus (pool build)
    "embedding_mmr_batch",      # broadcast 4-row probe batch x corpus
    "docs_hybrid_retrieval",    # composes the BM25 index serve's
                                # 1-row broadcasts (below)
    "docs_hybrid_retrieval_batch",  # same stats broadcast + the
                                # knn_join probe-batch pattern
    # the BM25 index serve (lexical.bm25_serve): TWO 1-row
    # broadcasts — per-term df aggregate of the term-pruned
    # postings slice, and the summed (n_docs, avgdl) stats row —
    # the docs_bm25 pattern served from persisted state
    "docs_bm25_from_index",
    "docs_bm25_ingest",
    "docs_bm25_delete",
    "stream_bm25_index_replay",
    "docs_hybrid_retrieval_ivf",  # BM25-index broadcasts + the
                                  # single-probe-row query x
                                  # probed-lists candidates
    # round-13 additions — each composes patterns already on this
    # list; the batch-ivf plan pin additionally asserts NO BNLJ
    # touches the embeddings scan (the brute-dense signature)
    "docs_bm25_compact",          # the BM25 index serve's two
                                  # 1-row broadcasts, over the
                                  # compact= snapshot
    "docs_hybrid_retrieval_batch_ivf",  # BM25-index stats
                                  # broadcast (lexical stage only;
                                  # dense side is all equi-joins)
    "embedding_ivf_recall",       # composes embedding_cosine_topk
                                  # + the state-served single-
                                  # probe-row IVF serve
    "embedding_ivf_pq_recall",    # composes embedding_cosine_topk
                                  # + the probed ADC serve
}


def _assert_plan_bans(name: str, plan: str) -> None:
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time UDF"
    assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a BroadcastNestedLoopJoin and is not on BNLJ_ALLOWED"
        )


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_query_matches_oracle(spark, sf_dir, spec):
    df = spec.spark(spark, sf_dir)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check (driver's weaker gate)
    else:
        assert_matches_oracle(df, spec.oracle, sf_dir)
    _assert_plan_bans(spec.name, df._jdf.queryExecution().executedPlan().toString())


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
