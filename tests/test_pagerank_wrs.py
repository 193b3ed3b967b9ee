"""Goldens for the round-5 additions: PageRank (operators/pagerank.py),
weighted reservoir sampling, and source-KL — invariants independent of
the DuckDB twin."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_sh_design_spark import registry_quality, registry_relational, registry_selection
from etl_sh_design_spark.operators.pagerank import pagerank
from tests.conftest import SF_SMOKE


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src: bigint, dst: bigint")


def test_pagerank_cycle_is_uniform(spark):
    """On a k-cycle every node keeps rank exactly 1.0 (the fixpoint:
    0.15 + 0.85 * 1.0/1), at every iteration count."""
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    rows = pagerank(e, iterations=3).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.rank == pytest.approx(1.0, abs=1e-9)
        assert r.out_deg == 1 and r.in_deg == 1


def test_pagerank_star_hand_computed(spark):
    """Star 1,2,3 -> 0: leaves settle at 0.15 after round 1; the hub
    gets 0.15 + 0.85 * (3 * 0.15) = 0.5325 from round 2 on."""
    e = _edges(spark, [(1, 0), (2, 0), (3, 0)])
    got = {r.node: r for r in pagerank(e, iterations=3).collect()}
    assert got[0].rank == pytest.approx(0.5325, abs=1e-9)
    for leaf in (1, 2, 3):
        assert got[leaf].rank == pytest.approx(0.15, abs=1e-9)
    assert got[0].in_deg == 3 and got[0].out_deg == 0


def test_pagerank_hub_outranks_leaves_on_events(spark):
    """On the derived event graph the max-in-degree node must outrank
    the min-in-degree node (sanity: iteration actually moved mass)."""
    df = registry_relational.q_pagerank_hubs(spark, SF_SMOKE)
    rows = df.collect()
    top = max(rows, key=lambda r: r.in_deg)
    bottom = min(rows, key=lambda r: r.in_deg)
    assert top.rank > bottom.rank


def test_wrs_plan_is_partial_topk(spark):
    """The A-Res sample must compile to TakeOrderedAndProject (per-
    partition top-k + driver k-merge), NOT a global sort exchange."""
    df = registry_selection.q_weighted_sample_docs(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_wrs_prefers_heavy_docs(spark):
    """Weighted sampling with w = n_chars must over-represent long
    docs: the sample's mean n_chars exceeds the corpus mean."""
    sample = registry_selection.q_weighted_sample_docs(spark, SF_SMOKE)
    s_mean = sample.agg(F.avg("n_chars")).first()[0]
    c_mean = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    assert s_mean > c_mean


def test_source_kl_nonnegative_and_entropy_bounded(spark):
    """Gibbs' inequality: KL >= 0 for every source; entropy is within
    (0, ln(vocab)]."""
    rows = registry_quality.q_source_token_kl(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.kl_vs_corpus >= -1e-9
        assert 0.0 < r.entropy <= math.log(r.vocab) + 1e-9


# ------------------------- duplicated-span trim (operators/span_dedup)
from etl_sh_design_spark.operators.span_dedup import trim_audit  # noqa: E402

_TOKS = "filter(split(text, '\\\\s+'), t -> t != '')"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: bigint, source: string, text: string")


def test_span_trim_keeps_first_occurrence(spark):
    """Two docs share an exact 8-token span: the lower doc_id keeps
    it, the higher one is trimmed exactly 8 tokens; an unrelated doc
    is untouched."""
    span = "a b c d e f g h"
    rows = [
        (1, "s", span + " tail1 tail2"),
        (2, "s", "lead1 lead2 " + span),
        (3, "s", "x y z w v u t s r q"),
    ]
    got = {r.source: r for r in trim_audit(_docs(spark, rows), _TOKS).collect()}["s"]
    assert got.n_docs == 3
    assert got.total_tokens == 10 + 10 + 10
    assert got.trimmed_tokens == 8
    assert got.n_docs_trimmed == 1


def test_span_trim_overlapping_grams_union_not_sum(spark):
    """A 10-token repeated span yields three overlapping 8-gram
    occurrences (pos 0,1,2) — the interval union must count 10
    trimmed tokens, not 24."""
    span10 = "a b c d e f g h i j"
    rows = [(1, "s", span10), (2, "s", span10)]
    got = trim_audit(_docs(spark, rows), _TOKS).collect()[0]
    assert got.total_tokens == 20
    assert got.trimmed_tokens == 10
    assert got.n_docs_trimmed == 1


def test_span_trim_hot_gram_cap_exempts_boilerplate(spark):
    """With max_gram_freq=2 a span occurring in 3 docs is exempt
    (boilerplate), so nothing is trimmed."""
    span = "a b c d e f g h"
    rows = [(i, "s", span) for i in range(1, 4)]
    got = trim_audit(_docs(spark, rows), _TOKS, max_gram_freq=2).collect()[0]
    assert got.trimmed_tokens == 0


def test_hll_merged_equals_direct_and_near_exact(spark):
    """Sketch mergeability: union of 32 shard sketches must give the
    SAME estimate as one direct sketch (DataSketches HLL union is
    lossless at equal lgK), and land within 5% of exact."""
    rows = registry_relational.q_hll_distinct_sketch(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.est_merged == r.est_direct
        assert r.rel_error < 0.05
