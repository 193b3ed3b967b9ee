#!/usr/bin/env python
"""Fleet-wide physical-plan linter: scan EVERY registered query's
executed plan for the scale anti-patterns this engine bans, so a
regression anywhere in the 150+-query surface fails loudly instead of
waiting for someone to re-read .explain() output.

Rules (each with a per-query whitelist for the documented,
deliberately-accepted exceptions):

- CARTESIAN     CartesianProduct — all-pairs with no key; never OK
                unless both sides are provably tiny (whitelisted).
- NESTED_LOOP   BroadcastNestedLoopJoin — acceptable only for
                dim-sized side / scalar subquery shapes the plan
                tests already pin (whitelisted per query).
- ROW_PYTHON    BatchEvalPython — a row-at-a-time Python UDF in the
                plan. Arrow paths (ArrowEvalPython, MapInPandas,
                FlatMapGroupsInPandas, WindowInPandas) are fine and
                NOT flagged.
- GLOBAL_WIN    A Window node whose partition spec is empty — the
                whole input funnels through one task at scale.
- GLOBAL_SORT   A terminal global Sort that is not top-k-bounded
                (heuristic: Sort [global=true] with no downstream
                Limit/TakeOrdered in the same plan). Ranking
                surfaces should use TakeOrderedAndProject or keyed
                windows.
- EXACT_PERCENTILE  The buffering exact `percentile(...)`/`median(...)`
                aggregate: it collects EVERY value of a group into one
                in-memory buffer — an executor OOM for huge groups at
                100 TB. Use operators/percentile.grouped_percentiles
                (sort-spillable exact rank plan) or percentile_approx;
                whitelisting requires a documented per-group row bound.

Usage:
    python tools/plan_lint.py            # lint all queries at sf0.001
    python tools/plan_lint.py NAME ...   # lint matching queries

Exit 1 if any non-whitelisted finding. A whitelisted rule that did
not fire on its query prints a STALE line (the entry may be deleted),
but does not fail the run. Also importable:
`lint_plan(df)` returns the finding list for one DataFrame, and
`WHITELIST` documents every accepted exception in one place.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ---------------------------------------------------------------- rules

# query -> set of rule codes that are accepted there, with the reason
# kept next to the entry so the whitelist IS the documentation.
WHITELIST: dict[str, dict[str, str]] = {
    # the 1-event re-probe crosses its one ray with the 4-row layers dim
    "mc_sanity_probe": {
        "NESTED_LOOP": "1 probe ray x 4-row layers dim cross join",
    },
    # TPC-H scalar-subquery shapes: 1-row aggregate broadcast
    "q6_revenue_change": {"NESTED_LOOP": "1-row scalar threshold"},
    "q14_promo_ratio": {"NESTED_LOOP": "1-row scalar ratio"},
    "q15_top_supplier": {"NESTED_LOOP": "1-row max-revenue scalar"},
    "q17_below_avg_qty": {"NESTED_LOOP": "per-part avg broadcast"},
    "q22_idle_customers": {"NESTED_LOOP": "1-row avg acctbal scalar"},
    "a16_histogram_mean": {"NESTED_LOOP": "1-row scalar join"},
    "stats_summary": {"NESTED_LOOP": "1-row scalar joins"},
    "regression_stats": {"NESTED_LOOP": "1-row moment scalars"},
    "approx_stats": {"NESTED_LOOP": "1-row sketch scalars"},
    "so3_set_equality": {"NESTED_LOOP": "two 1-row count scalars"},
    "decontamination": {"NESTED_LOOP": "1-row summary crossJoin"},
    "bloom_decontamination": {"NESTED_LOOP": "1-row summary crossJoin"},
    "ann_recall_at_k": {"NESTED_LOOP": "10-probe brute side"},
    "ann_multiprobe_recall": {"NESTED_LOOP": "10-probe brute side"},
    "similarity_topk": {"NESTED_LOOP": "10-probe brute side"},
    "knn_label_accuracy": {"NESTED_LOOP": "<=500-probe panel side"},
    # exact-truth side scans the corpus once against the FIXED
    # 10-query broadcast panel (same class as knn's panel scan)
    "pq_recall_audit": {"NESTED_LOOP": "10-query exact-truth panel side"},
    "knn_label_accuracy_stratified": {
        "NESTED_LOOP": "<=500-probe hash-stratified panel side"
    },
    "class_separation": {"NESTED_LOOP": "L-row centroid x centroid"},
    "quality_psi_drift": {"NESTED_LOOP": "1-row totals crossJoins"},
    "keep_rate_ab_test": {"NESTED_LOOP": "1-row totals crossJoin"},
    "embedding_neardup": {"NESTED_LOOP": "bounded broadcast GEMM side"},
    "padding_waste": {"NESTED_LOOP": "1-row totals crossJoin"},
    "vocab_coverage": {"NESTED_LOOP": "1-row total-token scalar"},
    "token_budget_selection": {"NESTED_LOOP": "P-row prefix offsets"},
    "curation_pipeline_e2e": {"NESTED_LOOP": "P-row prefix offsets"},
    "ntile_acctbal": {"NESTED_LOOP": "P-row rank offsets"},
    "bpe_merge_learn": {"NESTED_LOOP": "1-row merge winner per round"},
    "bpe_compression_curve": {"NESTED_LOOP": "1-row merge winner"},
    "source_token_kl": {"NESTED_LOOP": "1-row corpus totals"},
    "cms_token_frequency": {"NESTED_LOOP": "sketch-row joins"},
    "quantile_sketch_events": {"NESTED_LOOP": "1-row sketch scalar"},
    "hll_distinct_sketch": {"NESTED_LOOP": "sketch-row joins"},
    "mad_outliers_events": {"NESTED_LOOP": "group-count median table"},
    "boilerplate_prefix_clusters": {"NESTED_LOOP": "1-row cluster stats"},
    "dedup_size_histogram": {"NESTED_LOOP": "1-row totals"},
    "semantic_dedup": {"NESTED_LOOP": "k-row centroid broadcast"},
    "semdedup_horizon_audit": {"NESTED_LOOP": "k-row centroid broadcast"},
    "preference_label_noise": {"NESTED_LOOP": "1-row BT gauge-total broadcast"},
    "kmeans_profile": {"NESTED_LOOP": "k-row centroid broadcast"},
    "minhash_estimate_error": {"NESTED_LOOP": "candidate-pair side"},
    "lsh_recall_eval": {"NESTED_LOOP": "1-row candidate-count crossJoin"},
    "skew_report_events": {"NESTED_LOOP": "1-row stats crossJoin"},
    "real_occupancy_bandwidth": {
        "NESTED_LOOP": "1-row sensor-totals crossJoin (lazified scalar)"
    },
    "j6_ordinal_join": {"NESTED_LOOP": "bounded theta-join (plan-tested)"},
    "top_bigrams": {"NESTED_LOOP": "post-limit top-k theta-join"},
    "weighted_sample_docs": {"NESTED_LOOP": "k-th key scalar"},
    "stratified_sample_customers": {"NESTED_LOOP": "group-count rate table"},
    "pagerank_hubs": {"NESTED_LOOP": "1-row dangling-mass scalar"},
    "temperature_mixture_plan": {
        "NESTED_LOOP": "1-row normalizer scalar x source-vocab table"
    },
    "bigram_lm_perplexity": {
        "NESTED_LOOP": "1-row vocab-size + corpus-NLL scalars"
    },
    "perplexity_buckets": {
        "NESTED_LOOP": "1-row vocab-size + tercile-threshold scalars",
        # the tercile rank plan windows over DISTINCT round-6dp NLL
        # values — bounded by the VALUE DOMAIN (<= ~3e7 for a 0-30 bit
        # range at 6 dp), not by corpus size, and the sort spills
        "GLOBAL_WIN": "rank over value-domain-bounded distinct NLLs",
    },
    "kcenter_coreset": {
        "NESTED_LOOP": "<=k-row center-set broadcast (greedy k-center rounds)"
    },
    "dsir_importance_weights": {
        "NESTED_LOOP": "1-row token-total scalars x B-bounded model table"
    },
    "semantic_decontamination": {
        "NESTED_LOOP": "eval-panel broadcast (10-probe side)"
    },
    "hard_negative_mining": {
        "NESTED_LOOP": "probe-panel broadcast (anchor side)"
    },
    "hard_negative_mining_ivf": {
        "NESTED_LOOP": "centroid + probe-panel broadcasts"
    },
    "ivfpq_ann_topk": {"NESTED_LOOP": "codebook broadcast"},
    "ivfpq_multiprobe_topk": {"NESTED_LOOP": "codebook broadcast"},
    "ivfpq_rerank_topk": {"NESTED_LOOP": "codebook broadcast"},
    "ivfpq_rerank_auto": {"NESTED_LOOP": "codebook broadcast"},
    "ivfpq_shortlist_audit": {"NESTED_LOOP": "codebook broadcast"},
    # the gauge normalization joins the 1-row strength total back to
    # the |items|-row matrix — a deliberate scalar broadcast
    "bradley_terry_strengths": {"NESTED_LOOP": "1-row gauge-total broadcast"},
    "pq_ann_topk": {"NESTED_LOOP": "codebook broadcast"},
    "similarity_ann_ivf": {"NESTED_LOOP": "centroid broadcast"},
    "similarity_ann_ivf_multiprobe": {"NESTED_LOOP": "centroid broadcast"},
    # the one deliberate LATERAL/UDTF demo (documented alternative)
    "udtf_chunk_stats": {"ROW_PYTHON": "U5 UDTF demo (documented)"},
    "acceptance_multi_variant": {"NESTED_LOOP": "rays x 3-row variant dim cross join"},
    "acceptance_multi_variant_hist": {"NESTED_LOOP": "rays x 3-row variant dim cross join"},
    "real_module_rows": {
        "GLOBAL_WIN": "rank over the 52-row distinct-y layout dimension"
    },
    "real_partition_flavors": {
        "GLOBAL_WIN": "rank over the 52-row distinct-y layout dimension"
    },
    "real_bv_study": {
        "GLOBAL_WIN": "rank over the 52-row distinct-y layout dimension",
        "NESTED_LOOP": "8-row BV config dim cross joins (layout-bounded)",
    },
    # J8: zones dim table is O(10) rows
    "bv_zone_counts": {"NESTED_LOOP": "zone range-lookup dim (O(10) rows)"},
    # 1-row scalar sides
    "tfidf_cosine_topk": {"NESTED_LOOP": "1-row doc-count/norm scalar"},
    "bm25_topk": {
        "NESTED_LOOP": "1-row avgdl/doc-count scalar",
        "GLOBAL_WIN": "rank over the post-limit 10-row top-k head",
    },
    # TPC-H result-order sorts on post-aggregation, threshold-filtered
    # tables (output contract; input to the sort is result-sized)
    "q11_important_parts": {
        "NESTED_LOOP": "1-row scalar threshold",
        "GLOBAL_SORT": "ordered result table (post-agg)",
    },
    "q20_part_suppliers": {
        "NESTED_LOOP": "per-part half-avg threshold broadcast",
        "GLOBAL_SORT": "ordered result table (post-agg)",
    },
}

def lint_plan(df) -> list[tuple[str, str]]:
    """Return [(rule, evidence_line)] for one DataFrame's executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    findings: list[tuple[str, str]] = []

    def first_line(pat: str) -> str:
        m = re.search(pat, plan)
        if not m:
            return ""
        start = plan.rfind("\n", 0, m.start()) + 1
        end = plan.find("\n", m.start())
        return plan[start : end if end != -1 else None].strip()[:160]

    if "CartesianProduct" in plan:
        findings.append(("CARTESIAN", first_line(r"CartesianProduct")))
    if "BroadcastNestedLoopJoin" in plan:
        findings.append(("NESTED_LOOP", first_line(r"BroadcastNestedLoopJoin")))
    if "BatchEvalPython" in plan:
        findings.append(("ROW_PYTHON", first_line(r"BatchEvalPython")))
    # Window node print forms: [fns], [part], [ord] (3 groups);
    # [fns], [part] (partitioned, no ordering — fine); [fns], [ord]
    # (GLOBAL with ordering — every row through one task); [fns]
    # (global, unordered). The second group is an ORDER spec iff its
    # entries carry sort directions.
    for m in re.finditer(
        r"Window (\[[^\]]*\])(?:, (\[[^\]]*\]))?(?:, (\[[^\]]*\]))?", plan
    ):
        part, order = m.group(2), m.group(3)
        is_global = part is None or (
            order is None and re.search(r"(ASC|DESC)", part) is not None
        )
        if is_global:
            line = plan[plan.rfind("\n", 0, m.start()) + 1 :].split("\n", 1)[0]
            findings.append(("GLOBAL_WIN", line.strip()[:160]))
            break
    if re.search(r"Sort \[[^\]]*\], true,", plan) and not re.search(
        r"TakeOrderedAndProject|CollectLimit|GlobalLimit", plan
    ):
        findings.append(("GLOBAL_SORT", first_line(r"Sort \[[^\]]*\], true,")))
    if re.search(r"(?<!approx_)\bpercentile\(|\bmedian\(", plan):
        findings.append(
            ("EXACT_PERCENTILE", first_line(r"(?<!approx_)\bpercentile\(|\bmedian\("))
        )
    return findings


def main() -> int:
    from etl_sh_design_spark import registry
    from etl_sh_design_spark.session import get_spark

    only = sys.argv[1:]
    sf = os.environ.get("PLAN_LINT_SF", "/root/testdata/sf0.001")
    spark = get_spark(app_name="plan_lint", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.queries()
    names = [n for n in sorted(qs) if not only or any(o in n for o in only)]
    bad = 0
    for name in names:
        try:
            findings = lint_plan(qs[name](spark, sf))
        except Exception as exc:  # pragma: no cover - surfacing only
            print(f"  ERROR      {name}: {exc}")
            bad += 1
            continue
        wl = WHITELIST.get(name, {})
        hard = [(r, ev) for r, ev in findings if r not in wl]
        for r in sorted(set(wl) - {r for r, _ in findings}):
            print(f"  STALE      {name}: {r} is whitelisted but did not fire")
        if hard:
            bad += 1
            for r, ev in hard:
                print(f"  FLAG       {name}: {r}  {ev}")
        else:
            tag = ",".join(sorted({r for r, _ in findings})) or "clean"
            print(f"  ok         {name} ({tag})")
    print(f"\n{len(names) - bad}/{len(names)} plans clean-or-whitelisted")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
