#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

The driver only retains a bounded tail of stdout, so the JSON line must
stay compact: `queries` carries the HEADLINE subset (one per operator
family); the full per-query timing map for all registry queries is
written to BENCH_FULL.json in the repo root (and a summary line goes to
stderr). `value` remains the wall-clock total across ALL queries.

Round 13 (VERDICT r12 next #2): the stdout line carries ONLY the
documented contract fields (metric/value/unit/queries/sf) and is the
LAST stdout line — BENCH_r11's line grew sf1/spread sections until the
driver's tail-bounded parser truncated it mid-JSON and the official
round-over-round comparison was lost. Spreads, median_spread_pct,
spread_noisy and the whole sf1 section now live ONLY in
BENCH_FULL.json. tests/test_bench_contract.py pins the line shape and
the < 4 kB bound.

Determinism: headline queries run $SPARK_GRAFT_BENCH_RUNS (default 2)
times and report the BEST warm time; per-query spread lands in
BENCH_FULL.json, so host contention reads as spread instead of a
phantom regression.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HERE = os.path.dirname(os.path.abspath(__file__))

# One representative per operator family (SURVEY.md §2 + extensions).
# Keep this list ~25 entries so the emitted JSON line stays < ~1.5 KB.
HEADLINE = [
    "acceptance_profile",  # flagship MC containment-join pipeline
    "real_acceptance_profile",  # same plan over the reference's real YAML layout
    "real_bv_study",  # mask-enumeration BV grouping over the real layout
    "hit_count_histogram",
    "sensor_physics",
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "histogram2d_qty_disc",
    "profile_disc_by_qty",
    "efficiency_returns",
    "window_top3_orders",
    "gaps_islands_events",
    "bv_greedy_groups",
    "bv_config_search",
    "occupancy_summary",
    "module_rollup",
    "tile_slots",
    "partition_flavors",
    "dedup_exact",
    "dedup_family_shared_subplan",
    "pq_family_shared",
    "ivfpq_family_shared",
    "acceptance_family_shared",
    "tiling_family_shared",
    "pq_recall_audit",
    "phash_image_neardup",
    # owns the preference family's memoized comparison sub-plan
    # (registry_selection.battery_comparisons): first battery entry in sweep
    # order pays the one user-keyed exchange, the audits below reuse it
    # (same attribution discipline as dedup_family_shared_subplan)
    "bradley_terry_strengths",
    # round-12 additions: auto-R re-rank, the two family audits, and
    # the preference battery (all sub-3 s in the full sweep)
    "pq_rerank_auto",
    "ivfpq_rerank_auto",
    "semdedup_horizon_audit",
    "lsh_band_occupancy_audit",
    "position_bias_audit",
    "rater_agreement_kappa",
    "pairwise_winrate_ci",
    "preference_cycle_audit",
    "preference_label_noise",
    "best_of_n_curve",
    "dpo_pair_construction",
    "minhash_lsh_neardup",
    "simhash_neardup",
    "ngram_jaccard_neardup",
    "embedding_neardup",
    "similarity_topk",
    "similarity_ann_lsh",
    "dedup_clusters",
    "text_quality",
    "token_stats_by_source",
    "sessionization_events",
    "asof_events",
    "merge_upsert_customers",
    "passage_dedup",
    "tfidf_cosine_topk",
    "range_frame_events",
    "sliding_window_events",
    "sequence_packing",
    "pii_redaction",
    "incremental_dedup",
    "top_bigrams",
    "funnel_interval_join",
    "kmeans_profile",
    "decontamination",
    "resample_locf_events",
    "token_frequency_scores",
    "pq_ann_topk",
    "ivfpq_ann_topk",
    "incremental_neardup",
    "q21_waiting_suppliers",
    "pagerank_hubs",
    "weighted_sample_docs",
    "source_token_kl",
    "span_trim_audit",
    "hll_distinct_sketch",
    "semantic_dedup",
    "quantile_sketch_events",
    "bloom_decontamination",
    "cms_token_frequency",
    "bpe_merge_learn",
    "knn_label_accuracy",
    "lsh_recall_eval",
    "ann_multiprobe_recall",
    "lang_id_confusion",
    "lpa_communities",
]

# similarity-family queries with weak run-to-run signal at sf0.1
# (round-6 verdict item 7: knn_label_accuracy posted a 5.4 s spread on
# a 2.5 s headline; round-7 item 5: embedding_neardup 6.76 s spread on
# a 0.75 s headline, lsh_recall_eval 5.2 s) — best-of-3 instead of
# best-of-2
TRIPLE_RUN = {
    "knn_label_accuracy",
    "knn_label_accuracy_stratified",
    "class_separation",
    "similarity_topk",
    "embedding_neardup",
    # measured 8.7 / 2.1 / 2.2 s: a single run reports the codegen/
    # broadcast cold cost of the MC re-probe, not the query
    "mc_sanity_probe",
    # measured 7.5 / 1.1 / 1.2 s: run 1 pays the session-memoized
    # slots_real(polygon) build (Arrow UDF stage + persist, keyed per
    # applicationId like the dee_faces tables); nothing earlier in the
    # alphabetical sweep shares that memo key (bbox is a separate key
    # and runs after), so a single run reports the build, not the query
    "tile_slots_polygon",
    # same compile-dominated shape (VERDICT r8 item 7): both plans are
    # dimension-sized (5 / 24 output rows) and their single-run cost
    # was Janino compile, not data. tile_notebook_pins is also fused
    # to ONE multi-config chain since round 9 (measured 45 s -> 11 s
    # cold, 2.3 s warm); best-of-3 reports the warm execution the
    # session-memoized plan actually delivers.
    "tile_notebook_pins",
    "tile_real_boards",
}

# queries whose warm-up tail is longer than two runs (measured
# lsh_recall_eval: 14.0 / 4.1 / 2.6 / 2.5 s — the signature rebuild
# lands on run 1 but codegen JIT keeps improving through run 3, so
# best-of-3's spread still read 1.7 s): give them a 4th run so
# second-best-minus-best compares two genuinely warm executions
RUNS_OVERRIDE = {
    "lsh_recall_eval": 4,
}

# Noise-floor control (VERDICT r9 item 6: median spread 25.3% — the
# sub-1.5 s half of the multi-run set is compile-bound, so its spread
# is Janino variance and real 0.5-2 s regressions hide inside it).
# Any multi-run entry whose best lands under the cutoff gets extra
# runs up to FAST_ENTRY_RUNS: fast entries are cheap by definition, so
# the added sweep cost is bounded by cutoff * extra_runs per entry,
# and second-best-minus-best then compares two genuinely warm
# executions. EXTRA_SPREAD names single-run registry entries that
# posted noise-band regressions in r9 (lpa_communities is already
# HEADLINE) so they get a spread measurement at all.
FAST_ENTRY_RUNS = 5
FAST_ENTRY_CUTOFF = 1.5
EXTRA_SPREAD = {
    "normalized_dedup",
    "ntile_acctbal",
    # minhash-family consumers (VERDICT r9 item 2): whichever family
    # query executes first after a cold spot absorbs residual
    # first-execution cost (r9: lsh_band_tuning 1.0 -> 6.7 s with no
    # spread recorded, misread as a regression). Multi-run makes the
    # reported number the warm TAIL and records the cold delta as
    # spread; the family BUILD itself is owned by the
    # dedup_family_shared_subplan entry, which runs before the sweep.
    "lsh_band_tuning",
    "signature_dedup_groups",
}

# sf1 headline (round-7 verdict item 4): the scale-relevant families
# re-timed at the 10x corpus (/tmp key-strided + rotated copies, see
# tools/sf1_bench.py) so round-over-round deltas are read at a scale
# where they exceed the sf0.1 noise floor. Bounded by
# SPARK_GRAFT_SF1_BUDGET seconds — on overrun the remaining entries are
# skipped and reported as such.
# Ordered cheap-first with the two quadratic-audit monsters LAST, so
# a budget overrun can only ever clip the entries whose sf0.1 spread
# already characterizes them — round-7 item 4 (knn_label_accuracy was
# skipped because it sat behind semantic_dedup's 82 s).
SF1_HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "q21_waiting_suppliers",
    "minhash_lsh_neardup",
    "span_trim_audit",
    "bloom_decontamination",
    "curation_pipeline_e2e",
    "token_budget_selection",
    "knn_label_accuracy",
    # text-quality battery representative: map-only HOF entropy, the
    # scan-bound shape (measured 1.4 s -> 3.5 s at 10x, SCALE.md)
    "char_entropy_quality",
    # round-8 late additions, both map-only scan-bound shapes whose
    # only shuffle is vocabulary-sized: the streaming-gate batch twin
    # and the PII-scrub audit
    "quality_gate_admissions",
    "pii_redaction_sources",
    # round-8c continuation additions: the Gopher dup-n-gram battery
    # (map-only run-length form) and the CCNet tercile selection
    # (vocab-bounded shuffle + rank-plan thresholds)
    "dup_ngram_fraction",
    "perplexity_buckets",
    # round-9 line-level additions: the map-only battery and the
    # explode -> count -> anti-join -> regroup global line dedup
    "line_quality_rules",
    "c4_line_dedup",
    "nfc_dedup_audit",
    # round-10 additions: the map-only classifier gate and the
    # shortlist+re-rank PQ deployment shape (10x-probed flat walls;
    # both well inside the per-entry cap)
    "hashed_quality_margin",
    "pq_rerank_topk",
    # round-11 additions: the banded perceptual-hash near-dup (map-side
    # 56-chunk md5 signature dominates; banded join broadcasts at this
    # scale — 10x probe flat) and the shortlist saturation audit
    "phash_image_neardup",
    "pq_shortlist_audit",
    # preference aggregation: one user-keyed window over the 1M-event
    # stream, then |items|^2-sized MM rounds
    "bradley_terry_strengths",
    # round-12: the auto-R deployment shape and the assignment-only
    # horizon audit at the 10x embedding corpus; one preference-battery
    # representative (the kappa query pays the extra pair-key shuffle)
    "pq_rerank_auto",
    "semdedup_horizon_audit",
    "rater_agreement_kappa",
    # the two heaviest audits stay LAST (budget-clip order).
    # semantic_dedup runs BEFORE ngram since round 9: the grow-k +
    # GEMM dispatches cut it from 82-171 s to ~20 s, and its
    # same-sweep spread is the one VERDICT r8 asked for — so it gets
    # start-gate priority; ngram's sf0.1 triple-run spread already
    # characterizes it if a slow sweep clips the final slot.
    "semantic_dedup",
    "ngram_jaccard_neardup",
]


def main() -> None:
    from etl_sh_design_spark import registry
    from etl_sh_design_spark.session import get_spark

    spark = get_spark(app_name="bench")

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else -1.0

    # warm the JVM (codegen, arrow, python workers) + parquet footers so
    # the first timed query doesn't absorb one-time startup costs
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    from etl_sh_design_spark.plans.acceptance import acceptance_profile

    acceptance_profile(spark, 1000).collect()
    spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).count()
    # JIT the array-lambda codegen path (zip_with/aggregate dot
    # products) that the similarity/label-eval family leans on — its
    # first execution carries several seconds of C2 compilation that
    # would otherwise land on whichever family query runs first
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    emb.select(
        F.aggregate(
            F.zip_with("embedding", "embedding", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("w")
    ).agg(F.sum("w")).collect()
    # JIT the shingle/minhash codegen chain (split -> posexplode ->
    # md5 -> grouped min) that the whole dedup/LSH family leans on —
    # measured to be the residual first-run cost behind
    # lsh_recall_eval/ngram_jaccard/simhash spread
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).limit(500)
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "tok")
    )
    toks.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long").alias("h"),
    ).groupBy("doc_id").agg(F.min("h")).count()
    # JIT the MAP-SIDE signature codegen (array_min over a 16-seed
    # md5 transform, one giant projection) — a different generated
    # class than the shingle/groupBy chain above; without this,
    # signature_dedup_groups (alphabetically first of its family)
    # absorbed the family's first-execution JIT (~8 s for a
    # |groups|-sized query, VERDICT r8 item 8)
    from etl_sh_design_spark.operators.dedup import minhash_signatures_mapside

    minhash_signatures_mapside(docs.limit(200)).count()

    queries = registry.queries()
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}

    # dev-only per-entry trace (SPARK_GRAFT_BENCH_TRACE=1): sweep
    # position, samples, cumulative JVM GC time and heap occupancy to
    # stderr — for diagnosing session-lifetime degradation (an entry
    # that is fast in isolation but slow mid-sweep). Never set by the
    # driver; zero cost when unset.
    trace = bool(os.environ.get("SPARK_GRAFT_BENCH_TRACE"))

    def _jvm_stats() -> tuple[float, float]:
        try:
            mf = spark._jvm.java.lang.management.ManagementFactory
            gc_ms = 0
            it = mf.getGarbageCollectorMXBeans().iterator()
            while it.hasNext():
                gc_ms += it.next().getCollectionTime()
            heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**30
            return gc_ms / 1000.0, heap
        except Exception:
            return -1.0, -1.0

    # The MinHash->LSH-pairs -> connected-components sub-plan is
    # memoized and shared by four queries (minhash_lsh_neardup,
    # dedup_clusters, dedup_keep_best, dedup_size_histogram). If it
    # materializes lazily inside whichever family member happens to run
    # first (alphabetical), that query's number absorbs the whole
    # shared cost and none of the family is comparable round-to-round.
    # Materialize it up front as its own timed entry instead: the total
    # still pays the cost exactly once, and each member then measures
    # only its own tail.
    from etl_sh_design_spark import memo, registry_dedup

    # dev-only subset (set below for the sweep too): when iterating on
    # named queries, skip the composite and sf1 sections unless asked
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    only_set = set(only_env.split(",")) if only_env else None

    # Round 12 (measurement fix, second pass — documented in
    # OPTIMIZATION_r12.md §9): the five *_family_shared build entries
    # were timed ONCE inline, so a host-interference burst landed
    # straight in `value` with no spread (observed live: a 72.8 s
    # reading for a 4.6 s build). They now get the same best-of-N +
    # recorded-spread treatment as every other entry; between runs the
    # family memo is CLEARED so each run honestly re-pays the full
    # build from the parquet scan (the repeat-honesty discipline the
    # sf1 section has used since §9 landed), and the last run leaves
    # the memo warm for the member entries exactly as before.
    _n_family_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS_MIN", "2")))

    def _family_entry(name, build, invalidate=None) -> None:
        if only_set is not None and name not in only_set:
            return
        # NOTE (ADVICE r12): `invalidate` drops the memo families (and
        # the catalog cache) so each repeat honestly re-pays the full
        # build, but the PRIOR run's lazily-localCheckpointed blocks
        # stay in executor storage until the session ends (see the
        # memo module docstring). At sf0.1 the residue is MB-scale; the
        # repeat measures a warm-storage build, which is the quantity
        # we compare round-over-round.
        vals: list[float] = []
        for r in range(_n_family_runs):
            if r > 0 and invalidate is not None:
                invalidate()
            t0 = time.perf_counter()
            try:
                build()
            except Exception as exc:
                # a failed REPEAT must not discard a genuine run-0
                # measurement (ADVICE r12): report the best completed
                # run and log the failure; -1 only when no run finished
                timings[name] = min(vals) if vals else -1.0
                print(
                    f"bench: {name} build run {r} FAILED"
                    f" (kept {len(vals)} completed runs): {exc}",
                    file=sys.stderr,
                )
                return
            vals.append(round(time.perf_counter() - t0, 3))
        vals.sort()
        timings[name] = vals[0]
        if len(vals) > 1:
            spreads[name] = round(vals[1] - vals[0], 3)

    def _clear(*families: str):
        """An invalidator dropping `families` from the session memo and
        the catalog cache."""

        def invalidate() -> None:
            for family in families:
                memo.clear(family)
            spark.catalog.clearCache()

        return invalidate

    _family_entry(
        "dedup_family_shared_subplan",
        lambda: registry_dedup.dedup_components(spark, SF_DIR).count(),
        invalidate=_clear("dedup"),
    )

    # The PQ family (pq_ann_topk, ivfpq_*, pq_rerank_topk,
    # pq_shortlist_audit, pq_recall_audit) shares one codegen surface:
    # the subspace explode -> broadcast-codebook join -> argmin
    # train/encode chain, whose train+encode+ADC prefixes are
    # session-memoized (the memo module's "pq" family — the eleven
    # family entries each retrained identical codebooks). The chain's
    # first execution also carries the family's whole-stage-codegen
    # JIT — in the driver's single-run sweep that landed on
    # pq_recall_audit (8.65 s cold vs 3.79 s warm, VERDICT r10
    # item 7). Pay the build once as its own timed entry so each member
    # reports its own tail (same attribution fix as
    # dedup_family_shared_subplan).
    from etl_sh_design_spark.operators import pq as _pq

    _family_entry(
        "pq_family_shared",
        lambda: _pq.pq_topk(
            spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")),
            k=5,
            n_queries=10,
        ).write.format("noop").mode("overwrite").save(),
        invalidate=_clear("pq", "ivfpq"),
    )
    if only_set is None or "pq_family_shared" in only_set:
        spark.catalog.clearCache()
    # Like the flat-PQ entry above, the IVF-PQ index build ("ivfpq"
    # memo family) is owned by its own timed entry so each member
    # measures only its tail; the total still pays the build exactly
    # once. Its repeats drop ONLY the "ivfpq" family, so the flat-PQ
    # prefixes pq_family_shared just built (and owns) stay warm for the
    # member tails.
    _family_entry(
        "ivfpq_family_shared",
        lambda: _pq.ivfpq_topk(
            spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")),
            k=5,
            n_queries=10,
        ).write.format("noop").mode("overwrite").save(),
        invalidate=_clear("ivfpq"),
    )
    if only_set is None or "ivfpq_family_shared" in only_set:
        spark.catalog.clearCache()
    # Round 12: the synthetic tiling chain (slots -> runs) is
    # session-memoized (the "tiling" memo family) and shared by six
    # queries; own its build as a timed entry (same attribution
    # discipline as the other *_family_shared entries).
    from etl_sh_design_spark.plans import tiling as _tiling

    _family_entry(
        "tiling_family_shared",
        lambda: _tiling.runs(spark).count(),
        invalidate=lambda: memo.clear("tiling"),
    )
    # Round 12: the two multi-variant acceptance queries share ONE
    # memoized per-(variant, event) hit table (registry_detector.mv_per_hit
    # — the 1e6-ray scan + binned containment join was ~95% of BOTH
    # plans). The build is owned by its own timed entry so each query
    # reports only its tail; the total still pays the build once.
    from etl_sh_design_spark import registry_detector

    _family_entry(
        "acceptance_family_shared",
        lambda: registry_detector.mv_per_hit(spark).count(),
        # clear only the per-hit table; the static variant corner set
        # ("mv_variants") is dimension metadata, not timed work
        invalidate=lambda: memo.clear("mv_hits"),
    )
    # Determinism (round-4 verdict task 7): headline queries run
    # N_RUNS times back-to-back and report the BEST (warm) time, with
    # the per-query spread recorded in BENCH_FULL.json — same-host
    # contention then shows up as spread, not as a phantom
    # round-over-round regression. Non-headline queries run once (the
    # full registry twice would blow the driver's bench budget).
    n_runs_headline = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    # Round 12 (measurement fix, documented in OPTIMIZATION_r12.md):
    # the ~150 NON-headline entries ran once each, so a host-steal
    # burst (measured: 15-25% steal in bursts on this sandbox, single
    # entries inflating 5-40x) lands straight in `value` with no
    # spread recorded to judge it by. Every entry now gets best-of-N
    # (default 2) with spread, same as headline entries always had —
    # the reported number is the same quantity (best warm time), just
    # measured for every entry. Old behavior: SPARK_GRAFT_BENCH_RUNS_MIN=1.
    n_runs_min = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS_MIN", "2")))
    headline_set = set(HEADLINE)
    # dev-only sweep subset for local iteration (comma-separated query
    # names); the driver never sets it, so driver runs always sweep the
    # full registry
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    sweep = sorted(set(only.split(",")) & set(queries)) if only else sorted(queries)
    for name in sweep:
        fn = queries[name]
        runs = n_runs_headline if name in headline_set else n_runs_min
        if name in TRIPLE_RUN:
            runs = max(runs, 3)
        if name in EXTRA_SPREAD:
            runs = max(runs, 2)
        runs = max(runs, RUNS_OVERRIDE.get(name, 0))
        samples: list[float] = []
        try:
            while len(samples) < runs:
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                # noop sink: forces every output column to be computed
                # (df.count() would let Catalyst prune unused
                # projections and under-measure map-only queries)
                df.write.format("noop").mode("overwrite").save()
                samples.append(round(time.perf_counter() - t0, 3))
                # compile-bound fast entries: extend to FAST_ENTRY_RUNS
                # so the recorded spread compares warm executions
                # (see FAST_ENTRY_CUTOFF block comment). Scoped to the
                # deliberately multi-run sets — the r12 best-of-2
                # floor for tail entries must not escalate every
                # sub-1.5 s entry to 5 runs (that would add minutes of
                # sweep wall for spread precision the tail doesn't need)
                if (
                    runs > 1
                    and (
                        name in headline_set
                        or name in TRIPLE_RUN
                        or name in EXTRA_SPREAD
                    )
                    and len(samples) == runs
                    and min(samples) < FAST_ENTRY_CUTOFF
                ):
                    runs = FAST_ENTRY_RUNS
            samples.sort()
            timings[name] = samples[0]
            if len(samples) >= 3:
                # robust spread: second-best minus best. max-min is
                # dominated by a single contention outlier (the r6
                # knn_label_accuracy 5.4 s "spread" was one GC-hit
                # run); two agreeing fast runs ARE reproducibility.
                spreads[name] = round(samples[1] - samples[0], 3)
            elif len(samples) == 2:
                spreads[name] = round(samples[1] - samples[0], 3)
        except Exception as exc:  # keep the bench alive; flag the query
            timings[name] = -1.0
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
        if trace:
            gc_s, heap_gb = _jvm_stats()
            print(
                f"trace: {name} samples={samples} gc_cum={gc_s:.1f}s "
                f"heap={heap_gb:.1f}g",
                file=sys.stderr,
            )
        # cache hygiene: some operators cache intermediates (minhash /
        # simhash signatures); dropping them between queries keeps the
        # 100+-query session from accumulating executor-memory pressure
        # that degrades later queries by 5-20x. EXCEPT after the tile
        # family: its persisted slot tables are KB-sized and shared by
        # the (alphabetically adjacent) family members — clearing them
        # forces a ~5 s re-materialization per member for no memory
        # benefit.
        if not name.startswith(("tile_real_", "tile_notebook")):
            spark.catalog.clearCache()

    # ------------------------------------------------------------ sf1
    # headline families at the 10x corpus, best-of-2-warm, inside a
    # hard budget so the driver's bench window is never blown
    sf1_timings: dict[str, float] = {}
    sf1_skipped: list[str] = []
    sf1_capped: list[str] = []
    sf1_spread: dict[str, float] = {}
    sf1_repeat_failed: list[str] = []
    # single timed run per sf1 entry EXCEPT the four monsters
    # (SF1_REPEAT below): the sf0.1 sweep already measures run-to-run
    # spread for the cheap shapes; sf1 exists for the SCALE RATIO. The
    # monsters get best-of-2 WITH a recorded per-entry spread (VERDICT
    # r8 item 3) because their single-run variance bands (e.g.
    # semantic_dedup 82-171 s across r7/r8 sweeps) were wide enough to
    # hide a ~3x regression; the second run obeys the same budget
    # start-gate and watchdog as the first, so a contended host
    # degrades to a recorded single run, never a blown window.
    # The budget is a HARD wall-clock bound for the whole section
    # (builds included): an entry only STARTS while the remaining
    # budget covers its per-entry cap, so worst case = last admitted
    # entry runs to its cap and the section lands exactly at budget.
    # 340 s default (was 300 through r11): a normal solo sweep
    # measures ~100-140 s; the bound exists for contended hosts, where
    # main sweep (~210 s) + an unbounded sf1 section (measured 273 s
    # once) would push the whole bench past the external driver's
    # ~10 min window. Raised +40 s in r12 for the section's growth
    # (3 new entries + 2 entries promoted to best-of-2): a contended
    # pass measured 139 s with the old 300 s budget start-gating the
    # LAST entry (ngram, deliberately tail-ordered) out of the run.
    # a dev subset run (SPARK_GRAFT_BENCH_ONLY) iterates on sf0.1
    # numbers — spending the ~2 min sf1 section (builds + monsters)
    # there defeats the point; the driver never sets the var
    sf1_budget = 0.0 if only_set is not None else float(
        os.environ.get("SPARK_GRAFT_SF1_BUDGET", "340")
    )
    sf1_overrun = False  # a query RAN PAST the budget (vs pre-skip)
    sf1_t0 = time.perf_counter()
    try:
        if only_set is not None:
            raise RuntimeError("dev-subset run: sf1 section skipped")
        from etl_sh_design_spark import registry_dedup as _rdedup
        from tools.scale_probe import SF10X, build_10x, build_10x_embeddings
        from tools.sf1_bench import build_10x_tpch

        build_10x(spark)
        build_10x_embeddings(spark)
        build_10x_tpch(spark)
        # per-entry soft cap (ADVICE r7): one pathological/hung query
        # must not blow the driver's whole bench window. A watchdog
        # timer cancels the entry's job group after the cap; the entry
        # is recorded as capped (-2), distinct from failed (-1).
        # 120 s default covers every normal-host measurement except
        # semantic_dedup (band 82-110 s normal, 171 s contended),
        # which gets its own headroom below; a cap firing therefore
        # means contention-or-pathology, and the -2 marker says which
        # entry to re-read against BASELINE.md's variance bands.
        import threading

        entry_cap = float(os.environ.get("SPARK_GRAFT_SF1_ENTRY_CAP", "120"))
        # semantic_dedup's old 150 s override predates the round-9
        # grow-k/GEMM dispatches (it now measures ~20 s at sf1); the
        # inflated cap starved its own START gate (needs budget-cap
        # remaining), which is how the release-gate sweep skipped
        # exactly the entry the spread field exists for
        cap_override: dict[str, float] = {}
        # the monsters: best-of-2 with recorded spread (see above).
        # The optional pre_repeat hook makes the second run honest —
        # dedup_family_shared_subplan is session-memoized, so without
        # clearing the memo its repeat would time a memo hit.
        SF1_REPEAT = {
            "dedup_family_shared_subplan",
            "semantic_dedup",
            "knn_label_accuracy",
            "ngram_jaccard_neardup",
            # VERDICT r11 what's-wrong #1: both roughly doubled
            # round-over-round in the single-run sf1 section
            # (bloom 3.72 -> 7.99 s, span_trim 3.57 -> 6.89 s) with
            # no spread recorded to judge the move by; both have
            # documented cold-JIT history (bloom: 10.0 s cold / 2.2 s
            # warm in r5), so best-of-2 + recorded spread separates
            # JIT placement from a real regression
            "bloom_decontamination",
            "span_trim_audit",
        }

        def _sf1_one_run(name: str, run, cap: float) -> float:
            """One watchdogged execution; returns wall secs, -2 capped,
            -1 failed."""
            group = f"sf1::{name}"
            spark.sparkContext.setJobGroup(group, group, interruptOnCancel=True)
            # cancelJobGroup is ONE-SHOT: it kills jobs in flight at
            # that instant, but a multi-job entry (iterative components
            # loop, cache build + consume) whose job GAP coincides with
            # the timer simply starts its next job uncancelled —
            # measured: a 60 s cap let a 9-job entry run 96 s. So past
            # the cap we re-fire the cancel every 2 s until the entry
            # returns.
            done = threading.Event()

            def _enforce_cap() -> None:
                if done.wait(cap):
                    return
                while not done.is_set():
                    try:
                        spark.sparkContext.cancelJobGroup(group)
                    except Exception:
                        return
                    done.wait(2.0)
            watchdog = threading.Thread(target=_enforce_cap, daemon=True)
            watchdog.start()
            t0 = time.perf_counter()
            try:
                run()
                return round(time.perf_counter() - t0, 3)
            except Exception as exc:
                if time.perf_counter() - t0 >= cap:
                    print(f"bench: sf1 {name} CAPPED at {cap}s", file=sys.stderr)
                    return -2.0
                print(f"bench: sf1 {name} FAILED: {exc}", file=sys.stderr)
                return -1.0
            finally:
                done.set()
                spark.sparkContext.setJobGroup("", "")

        def _sf1_entry(name: str, run, pre_repeat=None) -> None:
            nonlocal sf1_overrun
            cap = cap_override.get(name, entry_cap)
            # start gate: remaining budget must cover this entry's cap
            if time.perf_counter() - sf1_t0 > sf1_budget - cap:
                sf1_skipped.append(name)
                return
            t1 = _sf1_one_run(name, run, cap)
            sf1_timings[name] = t1
            if t1 == -2.0:
                sf1_capped.append(name)
            # best-of-2 for the monsters: the repeat's start gate uses
            # the MEASURED first run (2*t1 + 10 s slack) rather than
            # the conservative watchdog cap — by the time the late
            # monsters run, gating the repeat on the full cap (150 s
            # for semantic_dedup) starved exactly the entry the spread
            # was added for. The repeat's WATCHDOG cap is the same
            # min() the admission gate used (ADVICE r9: gating on
            # 2*t1+10 but bounding at the full entry cap let a
            # pathological repeat overrun the budget by cap-(2*t1+10)),
            # so admission and bound agree and the worst case stays
            # budget-shaped. Invalidation before the repeat is
            # per-entry (the pre_repeat hook) — a global clearCache
            # here dropped UNRELATED persisted segments (e.g. the
            # dee_faces session memos) and biased later entries
            # (ADVICE r9); entries whose run 1 leaves catalog-cached
            # state pass a hook that clears exactly that state.
            rcap = min(cap, 2 * t1 + 10)
            if (
                name in SF1_REPEAT
                and t1 >= 0
                and time.perf_counter() - sf1_t0 <= sf1_budget - rcap
            ):
                if pre_repeat is not None:
                    pre_repeat()
                t2 = _sf1_one_run(name, run, rcap)
                if t2 >= 0:
                    sf1_timings[name] = min(t1, t2)
                    sf1_spread[name] = round(abs(t1 - t2), 3)
                else:
                    # a capped/failed repeat must not vanish: record
                    # it so the sweep says "single-run entry, repeat
                    # dropped" instead of silently looking best-of-2
                    sf1_repeat_failed.append(name)
            # cancellation is cooperative, so an entry can still land
            # slightly past the budget; record that distinctly
            if time.perf_counter() - sf1_t0 > sf1_budget:
                sf1_overrun = True
            spark.catalog.clearCache()

        # family-fairness: materialize the memoized dedup shared
        # sub-plan as its own timed entry at sf1 too (the sf0.1 sweep
        # does the same), so minhash_lsh_neardup measures its
        # post-shared TAIL at both scales instead of tail-vs-family
        # repeat honesty: drop the session memo so run 2 rebuilds the
        # shared sub-plan; run 2 then leaves the memo WARM for the
        # downstream family tails, same as a single run did
        _sf1_entry(
            "dedup_family_shared_subplan",
            lambda: _rdedup.dedup_components(spark, SF10X).count(),
            pre_repeat=lambda: memo.clear("dedup"),
        )
        for name in SF1_HEADLINE:
            # ngram's run 1 leaves its own shingle table in the
            # catalog cache (ngram_jaccard_pairs .cache()s it, and the
            # CacheManager matches run 2's identical plan) — clearing
            # the catalog IS the entry-scoped invalidation here, since
            # every other sf1 entry ends with its own clearCache. The
            # other monsters keep no catalog state (localCheckpoints /
            # broadcast panels), so their repeats need no hook.
            _sf1_entry(
                name,
                lambda name=name: queries[name](spark, SF10X)
                .write.format("noop")
                .mode("overwrite")
                .save(),
                pre_repeat=(
                    spark.catalog.clearCache
                    if name == "ngram_jaccard_neardup"
                    else None
                ),
            )
    except Exception as exc:  # corpus build failed: report, don't die
        print(f"bench: sf1 section unavailable: {exc}", file=sys.stderr)
    sf1_total = round(sum(t for t in sf1_timings.values() if t >= 0), 3)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    headline = {k: timings[k] for k in HEADLINE if k in timings}
    rel = [
        spreads[k] / timings[k]
        for k in spreads
        if timings.get(k, 0) > 0.05  # spread% on sub-50ms queries is noise
    ]
    rel.sort()
    median_spread_pct = round(100 * rel[len(rel) // 2], 1) if rel else 0.0
    # compact per-query spread for the stdout line: only entries noisy
    # enough to matter (>0.5 s or >50% of the reported best), capped so
    # the driver-retained line stays small; the full map is in
    # BENCH_FULL.json
    noisy = {
        k: v
        for k, v in spreads.items()
        if v > 0.5 or (timings.get(k, 0) > 0.05 and v / timings[k] > 0.5)
    }
    noisy = dict(sorted(noisy.items(), key=lambda kv: -kv[1])[:15])

    full = {
        "metric": "engine_all_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "queries": timings,
        "spread": spreads,
        "spread_noisy": noisy,
        "runs_headline": n_runs_headline,
        "median_spread_pct": median_spread_pct,
        "sf": sf,
        "sf1_queries": sf1_timings,
        "sf1_total": sf1_total,
        "sf1_skipped": sf1_skipped,
        "sf1_capped": sf1_capped,
        # best-of-2 delta for the monsters (|t1 - t2|; absent when the
        # budget gate skipped the repeat) — the same-sweep spread
        # estimate that replaces the old cross-sweep variance bands
        "sf1_spread": sf1_spread,
        "sf1_repeat_failed": sf1_repeat_failed,
        "sf1_overrun": sf1_overrun,
        # NOTE: spread = second-best minus best since round 7 (robust
        # to one contention outlier); r6-and-earlier spreads were
        # max-minus-min and are not comparable
        "spread_definition": "second_best_minus_best",
    }
    if only_set is None:  # a dev-subset run must not clobber the full record
        try:
            with open(os.path.join(HERE, "BENCH_FULL.json"), "w") as fh:
                json.dump(full, fh, indent=1, sort_keys=True)
        except OSError as exc:
            print(f"bench: could not write BENCH_FULL.json: {exc}", file=sys.stderr)
    print(f"bench: {len(timings)} queries, total {total}s at sf={sf}", file=sys.stderr)

    # the machine-contract line: ONLY the documented fields, emitted
    # LAST on stdout (VERDICT r12 next #2 — everything else lives in
    # BENCH_FULL.json; tests/test_bench_contract.py pins this shape)
    print(contract_line(total, headline, sf))


def contract_line(total: float, headline: dict[str, float], sf: float) -> str:
    """The ONE JSON line the external driver parses. Exactly the
    documented contract fields, compact separators, no trailing text.
    Factored out so tests can pin the shape and size without a Spark
    session."""
    return json.dumps(
        {
            "metric": "engine_all_queries_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": headline,
            "sf": sf,
        },
        separators=(",", ":"),
    )


if __name__ == "__main__":
    main()
