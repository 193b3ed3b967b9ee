"""Golden invariants for the late-round-5 operators (registry_selection,
registry_relational, registry_quality):
token-budget selection, MAD outliers, BPE compression curve, and
boilerplate-prefix clusters. Cross-engine value equality is covered by
test_driver_contract's full oracle replay; these pin the *semantic*
invariants that a hash match alone would not explain."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_sh_design_spark.registry_quality import (
    q_boilerplate_prefix_clusters,
    q_bpe_compression_curve,
)
from etl_sh_design_spark.registry_relational import q_mad_outliers_events
from etl_sh_design_spark.registry_selection import q_token_budget_selection
from tests.conftest import SF_SMOKE


def test_token_budget_respected_and_greedy_maximal(spark, duck):
    """Selected tokens must fit the 40% budget, and the selection must
    be maximal: the next document in (score DESC, doc_id) order would
    overflow it."""
    out = q_token_budget_selection(spark, SF_SMOKE).collect()
    sel_tokens = sum(r["sel_tokens"] for r in out)
    total, = duck.execute(
        r"""SELECT CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
            t -> t != ''))) AS BIGINT) FROM documents"""
    ).fetchone()
    budget = total * 2 // 5
    assert sel_tokens <= budget
    # rank-order maximality: the selection is exactly the longest
    # (score DESC, doc_id) prefix fitting the budget, so its token sum
    # must equal the largest prefix-cumsum <= budget
    from etl_sh_design_spark.registry import _SCORED_DOCS_SQL

    max_fit, = duck.execute(
        f"""WITH scored AS ({_SCORED_DOCS_SQL}),
        ranked AS (SELECT sum(n_tok) OVER (ORDER BY score DESC, doc_id) AS cum
                   FROM scored)
        SELECT CAST(max(cum) AS BIGINT) FROM ranked WHERE cum <= {budget}"""
    ).fetchone()
    assert sel_tokens == max_fit


def test_mad_outliers_invariants(spark):
    out = {r["event_type"]: r for r in q_mad_outliers_events(spark, SF_SMOKE).collect()}
    assert out, "no event types"
    for r in out.values():
        assert r["mad"] >= 0.0
        assert 0 <= r["n_outliers"] <= r["n"]
        # |z| > 3.5 flagged => max_abs_z must exceed 3.5 when any flagged
        if r["n_outliers"] > 0:
            assert r["max_abs_z"] > 3.5


def test_mad_outliers_flags_planted_outlier(spark):
    """A constructed distribution: 99 values at ~100 and one at 1e6 —
    the robust z-score must flag exactly the planted point (a mean/
    stddev z-score would be dragged by the outlier itself)."""
    rows = [("t", 100.0 + (i % 7) * 0.5) for i in range(99)] + [("t", 1e6)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    med = df.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = df.join(med, "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(ad, 0.5)").alias("mad"))
    flagged = (
        dev.join(mad, "event_type")
        .filter(F.lit(0.6745) * F.col("ad") > F.lit(3.5) * F.col("mad"))
        .count()
    )
    assert flagged == 1


def test_bpe_compression_curve_monotone(spark):
    rows = {r["n_merges"]: r for r in q_bpe_compression_curve(spark, SF_SMOKE).collect()}
    assert set(rows) == {0, 1, 2}
    # each merge strictly reduces total symbols (the winning pair has
    # positive count) and never loses information
    assert rows[1]["total_symbols"] < rows[0]["total_symbols"]
    assert rows[2]["total_symbols"] < rows[1]["total_symbols"]
    # a merge introduces exactly one new symbol type and retires at
    # most two, so the type count moves by at most 2 per round
    for a, b in ((0, 1), (1, 2)):
        assert abs(rows[b]["distinct_symbols"] - rows[a]["distinct_symbols"]) <= 2


def test_boilerplate_cluster_invariants(spark):
    out = q_boilerplate_prefix_clusters(spark, SF_SMOKE).collect()
    assert out
    for r in out:
        assert 0 <= r["templated_docs"] <= r["n_docs"]
        assert r["max_cluster_size"] >= 1
        if r["templated_docs"] > 0:
            assert r["n_template_clusters"] >= 1
            assert r["max_cluster_size"] >= 3
        # a doc in a >=3 cluster implies at least 3 docs SOMEWHERE share
        # the prefix (possibly across sources), so templated_docs can be
        # as low as 1 per source — no per-source lower bound beyond 1


def test_snapshot_diff_partitions_the_union_of_versions(spark):
    """Every (v1 ∪ v2) doc lands in exactly one status, and the
    status counts reconcile with the deterministic v2 derivation:
    removed = docs with id%17==3, added = docs with id%13==7,
    changed = docs with id%11==5 surviving the delete."""
    from etl_sh_design_spark.registry_selection import q_corpus_snapshot_diff
    from etl_sh_design_spark.registry import _t
    from pyspark.sql import functions as F

    out = q_corpus_snapshot_diff(spark, SF_SMOKE).collect()
    by_status: dict[str, int] = {}
    for r in out:
        by_status[r["status"]] = by_status.get(r["status"], 0) + r["n"]
    d = _t(spark, SF_SMOKE, "documents")
    n_removed = d.filter(F.col("doc_id") % 17 == 3).count()
    n_added = d.filter(F.col("doc_id") % 13 == 7).count()
    n_changed = d.filter(
        (F.col("doc_id") % 11 == 5) & (F.col("doc_id") % 17 != 3)
    ).count()
    n_total = d.count()
    assert by_status.get("removed", 0) == n_removed
    assert by_status.get("added", 0) == n_added
    assert by_status.get("changed", 0) == n_changed
    assert by_status.get("unchanged", 0) == n_total - n_removed - n_changed


def test_curation_pipeline_stage_monotonicity(spark):
    """Stages only shrink the corpus: candidates >= unique >= selected
    per source, and the dedup stage removes at least every planted
    clone whose original passed the quality gate (clones hash-collide
    with their originals by construction)."""
    from etl_sh_design_spark.registry_selection import q_curation_pipeline_e2e
    from etl_sh_design_spark.registry import _t
    from etl_sh_design_spark.functions import text as T
    from pyspark.sql import functions as F

    out = q_curation_pipeline_e2e(spark, SF_SMOKE).collect()
    assert out
    for r in out:
        assert r["n_candidates"] >= r["n_unique"] >= r["n_selected"] >= 0
        if r["n_selected"] > 0:
            assert r["sel_tokens"] > 0 and r["min_sel_score"] >= 0.5
    d = _t(spark, SF_SMOKE, "documents")
    planted_passing = (
        d.filter(F.col("doc_id") % 19 == 4)
        .select(
            T.quality_score("text").alias("score"),
            T.token_count("text").cast("bigint").alias("n_tok"),
        )
        .filter((F.col("score") >= 0.5) & (F.col("n_tok") >= 20))
        .count()
    )
    removed = sum(r["n_candidates"] - r["n_unique"] for r in out)
    assert removed >= planted_passing


def test_quality_calibration_invariants(spark):
    """Winsorized min-max calibration: p05 <= p95, the clipped count
    is bounded by ~10% of the source (interpolated percentiles clip
    AT MOST the outer tails, ties can only reduce it), and the
    calibrated mean lies in [0, 1]."""
    from etl_sh_design_spark.registry_quality import q_quality_calibration_sources

    out = q_quality_calibration_sources(spark, SF_SMOKE).collect()
    assert out
    for r in out:
        assert r["p05"] <= r["p95"]
        assert 0.0 <= r["mean_calibrated"] <= 1.0
        # strict-inequality clipping of [p05, p95] bounds the clipped
        # fraction by the two 5% tails (plus interpolation slack of
        # one rank position per side)
        assert r["n_clipped"] <= 0.1 * r["n_docs"] + 2
