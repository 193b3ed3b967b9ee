"""Uniform laziness: building a registered query's DataFrame must not
run Spark jobs — execution belongs to the consumer (the driver calls
queries()[name](spark, sf) for ALL entries before collecting any; an
eager .count()/.collect() inside a builder would execute at
construction time and double-charge the driver).

Attribution is by JOB GROUP, not timing: each builder runs under its
own job group, which Spark's async broadcast/subquery futures inherit
(withThreadLocalCaptured), so late-landing jobs are still charged to
the builder that caused them.

Builders whose ALGORITHM legitimately executes at build time are the
documented exceptions below — each names the driver-coordinated step
that makes it inherently eager (range-rank subtotal collection,
checkpointed shared sub-plans, trained codebooks, iterative loops).
"""

from __future__ import annotations

import time

import os

from etl_sh_design_spark.registry import queries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

# name -> the documented eager step (SURVEY-documented algorithms and
# size contracts, not laziness bugs)
EAGER_BUILDERS = {
    "bpe_merge_learn": "greedy merge loop: each round's winner gates the next",
    "bpe_compression_curve": "same greedy merge loop, curve over rounds",
    "kmeans_profile": "Lloyd iterations: centroids recomputed per round",
    "semantic_dedup": "k-means assignment feeding the cell-local dedup",
    "pagerank_hubs": "power iterations with per-round rank state",
    "lpa_communities": "label-propagation rounds",
    "dedup_clusters": "union-find edge materialization (size-contracted)",
    "dedup_keep_best": "same union-find sub-plan",
    "dedup_size_histogram": "same union-find sub-plan",
    "leakage_safe_split": "same union-find sub-plan (cluster-keyed split)",
    "dedup_soft_weights": "same union-find sub-plan (1/s weighting)",
    "lsh_band_tuning": "shared memoized signature table (one-time build)",
    "incremental_neardup": "incremental snapshot loop",
    "incremental_refresh_pipeline": "incremental snapshot loop",
    "graph_components": "large-star/small-star rounds",
    "token_budget_selection": "range-rank: per-partition subtotal offsets",
    "curation_pipeline_e2e": "composition includes the range-rank step",
    "ntile_acctbal": "range-rank: eager checkpoint pins the sampled "
    "range partitioning + P-row subtotal collect",
    "cms_token_frequency": "sketch built via per-partition aggregation",
    "quantile_sketch_events": "mergeable sketch build",
    "hll_distinct_sketch": "sketch build",
    "j9_run_comparison": "reads runs cached by an earlier write step",
    "ann_recall_at_k": "probe panel materialized to bound the brute side",
    "lsh_recall_eval": "same probe panel",
    "knn_label_accuracy": "probe panel materialized",
    "similarity_topk": "probe panel materialized (cosine_topk GEMM "
    "path drives the broadcast probe matrix from the panel, round 12)",
    "ann_multiprobe_recall": "same probe panel (brute side of the "
    "recall comparison goes through the cosine_topk GEMM path)",
    "knn_label_accuracy_stratified": "hash-order-statistic panel",
    "hard_negative_mining": "anchor panel materialized (GEMM path "
    "drives the broadcast anchor matrix from the panel, round 12)",
    "semantic_decontamination": "eval panel materialized (GEMM path "
    "drives the broadcast probe matrix from the panel, round 12)",
    "real_export_centers_check": "regenerates + reloads the YAML export",
    "embedding_neardup": "size-measured dispatch: counts the corpus to "
    "choose broadcast GEMM vs blocked GEMM (documented auto-dispatch)",
    "embedding_neardup_blocked": "same size-measured dispatch, forced "
    "blocked path still sizes the blocks",
    "similarity_ann_lsh": "SRP plane-literal derivation samples the "
    "embedding dim (first-row probe)",
    "pq_ann_topk": "PQ codebook training (sampled k-means) broadcasts "
    "trained centroids",
    "ivfpq_ann_topk": "IVF + PQ codebook training",
    "similarity_ann_ivf": "IVF centroid training",
    "skew_report_events": "exact quantile via range-rank subtotals",
    "top_bigrams": "top-k vocabulary cut materialized for the "
    "post-limit theta-join",
    "vocab_coverage": "top-k vocabulary cut materialized",
    "source_token_kl": "corpus-total scalars materialized for the "
    "closed-form KL",
    "minhash_estimate_error": "shared candidate-pair sub-plan "
    "checkpoint",
    "minhash_lsh_neardup": "may pay the shared memoized LSH-pair "
    "build: whichever dedup-family member is constructed FIRST in a "
    "session absorbs the one-time checkpoint jobs, and iteration "
    "order follows the driver window",
    "kcenter_coreset": "greedy max-min rounds: each selection gates "
    "the next center set (same per-round checkpoint discipline as "
    "kmeans_profile)",
    "j6_ordinal_join": "checkpointed runs table shared by both join "
    "sides",
    "tile_slots": "may pay the session-memoized synthetic slot-table "
    "checkpoint (the 'tiling' memo family, round 12): whichever "
    "tiling-chain consumer is constructed FIRST absorbs the one-time "
    "build jobs — the minhash_lsh_neardup contract",
    "tile_runs": "same shared memoized slots/runs chain",
    "tile_supermodules": "same shared memoized slots/runs chain",
    "tile_flavor_counts": "same shared memoized slots/runs chain",
    "a5_slot_state_counts": "same shared memoized slots table",
    "c4_line_dedup": "size-measured boiler-set dispatch: one count() "
    "picks broadcast vs shuffle anti-join and doubles as the "
    "localCheckpoint materialization (LINE_DEDUP_BROADCAST_MAX_ROWS)",
    "pq_recall_audit": "PQ + IVF-PQ codebook training (same trained-"
    "centroid broadcasts as pq_ann_topk / ivfpq_ann_topk)",
    "pq_rerank_topk": "PQ codebook training feeding the ADC shortlist",
    "ivfpq_multiprobe_topk": "IVF + PQ codebook training (nprobe=2 "
    "probe of the same trained index)",
    "ivfpq_rerank_topk": "IVF + PQ codebook training feeding the "
    "ADC shortlist",
    "pq_shortlist_audit": "PQ codebook training feeding the audited "
    "ADC set (same trained-centroid broadcasts as pq_ann_topk)",
    "bradley_terry_strengths": "MM iterations over the checkpointed "
    "|items|^2 win/game matrices — matrix-sized (never stream-sized) "
    "materialization at build, same per-round discipline as "
    "kmeans_profile",
    "ivfpq_shortlist_audit": "IVF + PQ codebook training feeding the "
    "audited probed-cells ADC set",
    # round-12 additions
    "acceptance_multi_variant": "may pay the shared memoized "
    "multi-variant per-hit build (registry_detector.mv_per_hit): whichever "
    "of the two multi-variant queries is constructed FIRST in a "
    "session absorbs the one-time checkpoint jobs (AQE materializes "
    "query stages on toRdd at checkpoint creation) — the "
    "minhash_lsh_neardup contract",
    "acceptance_multi_variant_hist": "same shared memoized per-hit "
    "build (absorbs the one-time build if constructed first)",
    "pq_rerank_auto": "PQ codebook training feeding the tie-class-"
    "covering (auto-R) ADC shortlist — same trained-centroid "
    "broadcasts as pq_rerank_topk",
    "ivfpq_rerank_auto": "IVF + PQ codebook training feeding the "
    "auto-R ADC shortlist",
    "semdedup_horizon_audit": "k-means assignment rounds (same "
    "per-round checkpoint discipline as semantic_dedup; the audit is "
    "assignment-only by design)",
    "ngram_jaccard_neardup": "size-measured side-join dispatches "
    "(DEDUP_SIDE_BROADCAST_MAX_ROWS, round 12): the cold-key and "
    "doc-size counts double as the localCheckpoint materializations "
    "the joins then read — the c4_line_dedup contract",
    "lsh_band_occupancy_audit": "shared memoized signature table "
    "(one-time build; map-side form since round 12 — no vocab "
    "dispatch left, the allowance covers the checkpoint jobs)",
    "preference_label_noise": "builds the BT strengths it audits "
    "against (same checkpointed MM rounds as bradley_terry_strengths)",
    "position_bias_audit": "may pay the preference battery's shared "
    "memoized comparison sub-plan (registry_selection.battery_comparisons): "
    "whichever battery member is constructed FIRST in a session "
    "absorbs the one-time checkpoint jobs (AQE materializes query "
    "stages on toRdd at checkpoint creation), and in registry dict "
    "order that is this query — the minhash_lsh_neardup contract. "
    "Pre-existing order-dependent behavior surfaced in round 12 when "
    "the gate ran before any battery-warming test",
    "rater_agreement_kappa": "same shared comparison sub-plan (absorbs "
    "the one-time build if constructed first)",
    "pairwise_winrate_ci": "same shared comparison sub-plan",
    "preference_cycle_audit": "same shared comparison sub-plan",
}

# datasource schema-probe jobs (1 footer-read task on first scan of a
# path) are scan SETUP, not execution
_SCAN_SETUP_PREFIXES = ("parquet at ", "json at ", "csv at ", "text at ")


def test_query_construction_runs_no_jobs(spark):
    sc = spark.sparkContext
    store = spark._jsc.sc().statusStore()
    qs = queries()
    built = []
    for name, fn in qs.items():
        sc.setJobGroup(f"lazy::{name}", f"construction of {name}")
        try:
            fn(spark, SF_DIR)
            built.append(name)
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(f"{name}: builder raised {exc}") from exc
        finally:
            sc.setJobGroup("lazy::settle", "between builders")
    time.sleep(2.0)  # let async broadcast futures land in the store

    jl = store.jobsList(None)
    offenders: dict[str, int] = {}
    for i in range(jl.size()):
        j = jl.apply(i)
        if j.name().startswith(_SCAN_SETUP_PREFIXES):
            continue
        grp = j.jobGroup()
        if not grp.isDefined():
            continue
        g = grp.get()
        if not g.startswith("lazy::") or g == "lazy::settle":
            continue
        qname = g[len("lazy::") :]
        if qname in EAGER_BUILDERS:
            continue
        offenders[qname] = offenders.get(qname, 0) + 1
    assert len(built) > 100  # the registry really was walked
    assert not offenders, f"lazy builders ran jobs: {offenders}"
