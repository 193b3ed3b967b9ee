"""Goldens for the round-5 additions: SemDeDup (semantic dedup via
k-means cells + within-cell cosine pruning) and the mergeable
two-level quantile sketch."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_sh_design_spark.registry_dedup import q_semantic_dedup
from etl_sh_design_spark.registry_relational import q_quantile_sketch_events
from tests.conftest import SF_SMOKE


def test_semdedup_removes_exactly_injected_duplicates(spark):
    """The fixture injects one verbatim copy of every 10th embedding.
    An exact copy always has cos == 1.0 >= tau to its original, the
    pair lands in the same cell (identical vectors assign
    identically), and keep-order ties break to the lower vec_id — so
    the audit must remove exactly the injected copies, nothing else
    (random dim-64 vectors produce no natural pair at tau=0.999)."""
    out = q_semantic_dedup(spark, SF_SMOKE).collect()
    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    n_inj = emb.filter(F.col("vec_id") % 10 == 0).count()
    n_all = emb.count()
    assert sum(r["n_removed"] for r in out) == n_inj
    assert sum(r["n_members"] for r in out) == n_all + n_inj
    assert all(r["n_kept"] == r["n_members"] - r["n_removed"] for r in out)


def test_semdedup_effective_k_dispatch_math():
    """The size-measured dispatch contract: k is a floor, the switch
    point is k * max_mean_cell_rows, above it k_eff = ceil(n/bound).
    Pins the exact numbers the registry/oracle relies on: the sf0.01
    injected corpus (550) and sf0.1 (2200) stay at k=8; the sf1 10x
    corpus (24200) grows to 25 cells."""
    from etl_sh_design_spark.operators.semdedup import (
        SEMDEDUP_MAX_MEAN_CELL_ROWS,
        semdedup_effective_k,
    )

    bound = SEMDEDUP_MAX_MEAN_CELL_ROWS
    assert bound == 1000
    assert semdedup_effective_k(550, 8, bound) == 8
    assert semdedup_effective_k(2200, 8, bound) == 8
    assert semdedup_effective_k(8000, 8, bound) == 8  # exactly at switch
    assert semdedup_effective_k(8001, 8, bound) == 9
    assert semdedup_effective_k(24200, 8, bound) == 25
    assert semdedup_effective_k(24200, 8, 0) == 8  # dispatch disabled


def test_semdedup_grow_k_still_removes_exact_duplicates(spark):
    """Above the switch point the cell structure changes but the
    correctness kernel must not: an exact copy assigns to the same
    cell as its original under ANY centroid set, so forcing the
    grown-k path (bound=50 -> k_eff=11 on the 550-vec corpus) must
    still remove exactly the injected copies."""
    from etl_sh_design_spark.operators.semdedup import (
        semantic_dedup_profile,
        semdedup_effective_k,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    inj = emb.select("vec_id", "embedding").unionByName(dup)
    n = inj.count()
    k_eff = semdedup_effective_k(n, 8, 50)
    assert k_eff > 8  # the test is only meaningful on the grown path
    out = semantic_dedup_profile(inj, k=8, tau=0.999, max_mean_cell_rows=50).collect()
    n_inj = dup.count()
    assert sum(r["n_removed"] for r in out) == n_inj
    assert sum(r["n_members"] for r in out) == n
    # the grown path really did create more cells
    assert len(out) > 8


def test_semdedup_gemm_assignment_parity(spark):
    """The GEMM assignment path (kmeans._assign_gemm, dispatched above
    N*k_eff = GEMM_ASSIGN_MIN_ROWS_X_CELLS) must be RESULT-IDENTICAL
    to the relational crossJoin fold — same dimension-order float
    accumulation, same 6dp round, same lowest-cluster tie-break. Force
    both paths on the oracle fixture and compare collected audits."""
    from etl_sh_design_spark.operators.semdedup import semantic_dedup_profile

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    inj = emb.select("vec_id", "embedding").unionByName(dup)
    rel = sorted(
        tuple(r)
        for r in semantic_dedup_profile(inj, k=8, gemm_min_product=0).collect()
    )  # 0 disables the GEMM dispatch entirely
    gemm = sorted(
        tuple(r)
        for r in semantic_dedup_profile(inj, k=8, gemm_min_product=1).collect()
    )  # 1 forces GEMM at any size
    assert rel == gemm


def test_quantile_sketch_hits_rank_statistic_bin(spark):
    """p50/p90/p99 must be the lower edge of the power-of-2 cent-bin
    that contains the exact rank statistic ceil(q*n) — i.e. the
    sketch's only error is bin width, never rank placement."""
    out = {r["event_type"]: r for r in q_quantile_sketch_events(spark, SF_SMOKE).collect()}
    rows = (
        spark.read.parquet(SF_SMOKE + "/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    by_type: dict[str, list[float]] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        assert out[et]["n_events"] == n
        for q, col in [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]:
            target = vals[math.ceil(q * n) - 1]
            cents = int(round(max(target, 0.0) * 100))
            b = (cents + 1).bit_length() - 1
            expect = round((2.0**b - 1.0) / 100.0, 6)
            assert out[et][col] == expect, (et, col, target, expect, out[et][col])


def test_quantile_sketch_shard_count_invariant(spark):
    """Merge algebra: the final quantiles must not depend on how many
    shard sketches the data was split into (32 here vs an adversarial
    re-shard by event_id % 5) — the property that makes per-partition
    sketches reaggregatable across executors or days."""
    base = q_quantile_sketch_events(spark, SF_SMOKE)
    e = spark.read.parquet(SF_SMOKE + "/events.parquet")
    reshard = e.withColumn("user_id", F.col("event_id"))  # different shard split
    # reuse the registry pipeline by substituting the table via a temp view
    from etl_sh_design_spark import registry_relational as r5

    b = reshard.select(
        "event_type",
        (F.col("user_id") % 5).alias("shard"),
        F.expr(r5._QSK_BIN_SPARK).alias("bin"),
    )
    merged = (
        b.groupBy("event_type", "shard", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("event_type", "bin")
        .agg(F.sum("c").alias("c"))
    )
    direct = (
        base.select("event_type", "n_events", "p50", "p90", "p99")
        .orderBy("event_type")
        .collect()
    )
    # recompute quantiles from the 5-shard merge
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type")
    cum = merged.select(
        "event_type",
        "bin",
        F.sum("c").over(w.orderBy("bin")).alias("cum"),
        F.sum("c").over(w).alias("total"),
    )

    def pick(q):
        return F.min(F.when(F.col("cum") >= F.ceil(F.col("total") * q), F.col("bin")))

    def edge(c):
        return F.round((F.pow(F.lit(2.0), c) - 1.0) / 100.0, 6)

    again = (
        cum.groupBy("event_type")
        .agg(
            F.max("total").alias("n_events"),
            edge(pick(0.5)).alias("p50"),
            edge(pick(0.9)).alias("p90"),
            edge(pick(0.99)).alias("p99"),
        )
        .orderBy("event_type")
        .collect()
    )
    assert [tuple(r) for r in direct] == [tuple(r) for r in again]


def test_bloom_decontamination_no_false_negatives(spark):
    """Bloom property: the two-phase bloom path must confirm EXACTLY
    the same contaminated docs and shared-gram count as the
    broadcast-probe decontamination query (false positives only ever
    add candidate pairs, never drop a true hit)."""
    from etl_sh_design_spark.registry_selection import (
        q_bloom_decontamination,
        q_decontamination,
    )

    bl = q_bloom_decontamination(spark, SF_SMOKE).collect()[0]
    ref = q_decontamination(spark, SF_SMOKE).collect()[0]
    assert bl["n_contaminated"] == ref["n_contaminated"]
    assert bl["total_shared_grams"] == ref["total_shared_grams"]
    assert bl["n_fp_pairs"] >= 0
    assert bl["n_candidate_pairs"] == bl["total_shared_grams"] + bl["n_fp_pairs"]


def test_cms_linear_merge_and_overestimate_sign(spark):
    """CMS is a linear sketch: the 16-shard merged sketch must equal
    the sketch built with no sharding at all (element-wise sums
    commute), and every probe estimate must be >= the exact count
    (collisions only ever add)."""
    from etl_sh_design_spark.operators.dedup import md5_int64
    from etl_sh_design_spark import registry_quality as r5

    rows = r5.q_cms_token_frequency(spark, SF_SMOKE).collect()
    assert len(rows) == r5._CMS_TOPN
    assert all(r["overestimate"] >= 0 for r in rows)
    assert all(r["cms_est"] == r["exact_count"] + r["overestimate"] for r in rows)

    # direct (shard-free) sketch == the query's shard-merged sketch
    d = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    t = d.select(F.explode(F.expr(r5._TOKS)).alias("token"))
    direct = None
    for j in range(r5._CMS_K):
        cj = t.select(
            F.lit(j).alias("j"),
            (md5_int64(F.concat(F.lit(f"c{j}:"), F.col("token"))) % r5._CMS_W).alias("col"),
        )
        direct = cj if direct is None else direct.unionByName(cj)
    direct_cells = {
        (r["j"], r["col"]): r["c"]
        for r in direct.groupBy("j", "col").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    sharded = t.withColumn("shard", F.monotonically_increasing_id() % 16)
    # recompute the query's merged sketch independently (same path as
    # the registry: shard partials then element-wise sum)
    cells = None
    for j in range(r5._CMS_K):
        cj = sharded.select(
            "shard",
            F.lit(j).alias("j"),
            (md5_int64(F.concat(F.lit(f"c{j}:"), F.col("token"))) % r5._CMS_W).alias("col"),
        )
        cells = cj if cells is None else cells.unionByName(cj)
    merged_cells = {
        (r["j"], r["col"]): r["c"]
        for r in cells.groupBy("shard", "j", "col")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("j", "col")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    assert direct_cells == merged_cells


def test_bpe_learns_hand_computed_merges(spark):
    """Hand-computed BPE fixture: words aaab (x3) and abab (x2).
    Round-1 pair counts: aa=6, ab=3+4=7, ba=2 -> merge (a,b).
    After the merge (greedy, non-overlapping, left-to-right):
    aaab -> [a, a, ab]; abab -> [ab, ab]. Round-2 counts:
    (a,a)=3, (a,ab)=3, (ab,ab)=2 -> lexicographic tie-break picks
    (a,a). Covers the weighted counting, the greedy overlap rule,
    merged-symbol pairs, and the deterministic tie order."""
    from etl_sh_design_spark.registry_quality import bpe_learn_merges

    w = spark.createDataFrame(
        [(3, "|a||a||a||b|"), (2, "|a||b||a||b|")], "cnt INT, ws STRING"
    )
    rows = {r["merge_rank"]: r for r in bpe_learn_merges(w, rounds=2).collect()}
    assert (rows[1]["left_sym"], rows[1]["right_sym"], rows[1]["pair_count"]) == ("a", "b", 7)
    assert (rows[2]["left_sym"], rows[2]["right_sym"], rows[2]["pair_count"]) == ("a", "a", 3)
