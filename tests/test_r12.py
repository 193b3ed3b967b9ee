"""Round-12 goldens: the auto-R (tie-class-covering) re-rank path,
its fail-loud bound, and forced-path parity for the new size-measured
join dispatches in the MinHash/ngram dedup family."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


# ------------------------------------------------------------- auto-R
def test_auto_r_restores_recall_with_no_hand_set_r(spark, tmp_path):
    """The VERDICT r11 closure contract: on the clustered fixture at
    depth 1k — the tie-dominated regime where round 10 measured
    fixed-R recall collapse and round 11 made it observable —
    pq_rerank_topk(auto_r=True) must reach recall 1.00 at a floor of
    20 with NO hand-set R, because rank()-with-ties admission grows
    the shortlist to the full ADC tie class. The fixed-R path at the
    same floor must still lose truth (the failure auto-R closes).
    Measured at all three decades by `recall_at_scale.py --auto-r`:
    0.96 / 1.00 / 1.00 at depths 100/1k/10k — the depth-100 miss is
    ADC boundary blur (a true neighbor encoding OUTSIDE the query's
    tie class), which no R-sizing rule can recover and deepening
    clusters wash out; tie slicing, the failure auto-R exists for, is
    fully closed."""
    import numpy as np

    from etl_sh_design_spark.operators.pq import pq_rerank_topk
    from tools.scale_probe import build_clustered_embeddings

    out = str(tmp_path / "clustered")
    build_clustered_embeddings(spark, out, n_rows=20_000)
    emb = spark.read.parquet(out + "/embeddings.parquet")

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype="float64")
    order = np.argsort(ids)
    ids, V = ids[order], V[order]

    def exact_top3(q):
        d = np.round(((V - V[q]) ** 2).sum(axis=1), 6)
        cand = sorted((dd, int(i)) for dd, i in zip(d, ids) if i != q)
        return {i for _, i in cand[:3]}

    def recall(**kw):
        got = {}
        for r in pq_rerank_topk(
            emb, k=3, shortlist=20, n_queries=5, **kw
        ).collect():
            got.setdefault(r["qid"], set()).add(r["neighbor_id"])
        return sum(len(got.get(q, set()) & exact_top3(q)) for q in range(5)) / 15.0

    assert recall(auto_r=True) == 1.0  # no hand-set R
    assert recall() < 1.0  # fixed R=20 still slices the tie class


def test_auto_r_fail_loud_past_max_auto_r(spark, tmp_path):
    """A pathological tie class larger than max_auto_r must RAISE
    (the when(raise_error) guard is fused into the id projection), not
    silently shuffle a corpus-sized shortlist into the re-rank."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError

    from etl_sh_design_spark.operators.pq import pq_rerank_topk
    from tools.scale_probe import build_clustered_embeddings

    out = str(tmp_path / "clustered")
    build_clustered_embeddings(spark, out, n_rows=2000)
    emb = spark.read.parquet(out + "/embeddings.parquet")
    with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception)) as ei:
        pq_rerank_topk(
            emb, k=3, shortlist=20, n_queries=5, auto_r=True, max_auto_r=50
        ).collect()
    assert "max_auto_r" in str(ei.value)


def test_auto_r_equals_fixed_r_without_ties(spark):
    """On the shipped near-isotropic corpus the rank-50 bar falls in a
    tie class of depth 1 for every query (the r11 audit golden pins
    shortlist_saturated == 0), so auto-R admission and the fixed-R
    row_number slice admit the same set and the re-ranked top-k is
    identical — auto_r changes nothing when the data has no tie
    pathology."""
    from etl_sh_design_spark.operators.pq import (
        ivfpq_rerank_topk,
        pq_rerank_topk,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    fixed = sorted(
        tuple(r)
        for r in pq_rerank_topk(emb, k=5, shortlist=50, n_queries=10).collect()
    )
    auto = sorted(
        tuple(r)
        for r in pq_rerank_topk(
            emb, k=5, shortlist=50, n_queries=10, auto_r=True
        ).collect()
    )
    assert fixed == auto
    fixed = sorted(
        tuple(r)
        for r in ivfpq_rerank_topk(
            emb, k=5, shortlist=50, n_queries=10, nprobe=2
        ).collect()
    )
    auto = sorted(
        tuple(r)
        for r in ivfpq_rerank_topk(
            emb, k=5, shortlist=50, n_queries=10, nprobe=2, auto_r=True
        ).collect()
    )
    assert fixed == auto


# ------------------------- dedup family size-dispatched joins (100x fix)
def test_minhash_wide_forced_shuffle_parity(spark):
    """The vocabulary-join dispatch (DEDUP_SIDE_BROADCAST_MAX_ROWS,
    added after the round-12 --ngram-100x probe measured the
    stats-driven broadcast aborting at driver maxResultSize on the
    100x corpus): forcing the shuffle path (bound=0) must be
    bit-identical to the broadcast path — join strategy only."""
    from etl_sh_design_spark.operators.dedup import minhash_signatures_wide

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet").select(
        "doc_id", "text"
    )
    bcast = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in minhash_signatures_wide(docs).collect()
    )
    shuf = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in minhash_signatures_wide(
            docs, vocab_broadcast_max_rows=0
        ).collect()
    )
    assert bcast == shuf
    assert len(bcast) > 0


def test_ngram_jaccard_forced_shuffle_parity(spark):
    """Same contract for ngram_jaccard_pairs' cold-key and doc-size
    joins: bound=0 (all three side joins forced to shuffle) must
    reproduce the default result exactly."""
    from etl_sh_design_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet").select(
        "doc_id", "text"
    )
    # inject exact near-dups so the pair set is non-trivial
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    dflt = sorted(tuple(r) for r in ngram_jaccard_pairs(corpus).collect())
    shuf = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(corpus, side_broadcast_max_rows=0).collect()
    )
    assert dflt == shuf
    assert len(dflt) > 0


# --------------------------------------------- semdedup horizon audit
def test_semdedup_horizon_audit_regimes(spark):
    """The audit's contract (VERDICT r11 next #3): in the exact
    regime every cell reads n_in_horizon == n_members, flag 0,
    capped False; forcing the capped regime (same dispatch overrides
    as the r11 parity goldens) flags exactly the cells that outgrew
    the candidate horizon, with n_in_horizon clamped to the cap; and
    the membership it reports is the SAME membership the dedup
    reports (assignment is shared code)."""
    from pyspark.sql import functions as F

    from etl_sh_design_spark.operators.semdedup import (
        semantic_dedup_profile,
        semdedup_horizon_audit,
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    inj = emb.select("vec_id", "embedding").unionByName(dup)

    exact = semdedup_horizon_audit(inj, k=8).collect()
    assert len(exact) == 8
    for r in exact:
        assert r["capped"] is False
        assert r["horizon_saturated"] == 0
        assert r["n_in_horizon"] == r["n_members"]

    cap = 40
    capped = semdedup_horizon_audit(
        inj, k=2, max_mean_cell_rows=30, max_k=5, candidate_cap=cap
    ).collect()
    assert {r["capped"] for r in capped} == {True}
    assert any(r["horizon_saturated"] == 1 for r in capped)
    for r in capped:
        assert r["horizon_saturated"] == int(r["n_members"] > cap)
        assert r["n_in_horizon"] == min(r["n_members"], cap)

    # membership parity with the dedup under the same forced regime
    prof = {
        r["cluster"]: r["n_members"]
        for r in semantic_dedup_profile(
            inj, k=2, max_mean_cell_rows=30, max_k=5, candidate_cap=cap
        ).collect()
    }
    assert {r["cluster"]: r["n_members"] for r in capped} == prof


# ---------------------------------------------- preference battery
def _pref_events(spark):
    """Three raters over the pair (A, B), crafted so every adjacent
    pair is a comparison: u1 judges A-beats-B twice, u2 splits, u3
    judges B-beats-A twice. Pooled chose-smaller count is 3/6 — a
    TIE, exercising the deterministic smaller-item tie-break."""
    rows = [
        # (event_id, ts, user_id, event_type, value)
        (1, 1, 1, "A", 0.0), (2, 2, 1, "B", -1.0), (3, 3, 1, "A", 2.0),
        (4, 1, 2, "A", 2.0), (5, 2, 2, "B", 3.0), (6, 3, 2, "A", 4.0),
        (7, 1, 3, "A", 2.0), (8, 2, 3, "B", 3.0), (9, 3, 3, "A", 1.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    )


def test_rater_agreement_kappa_hand_case(spark):
    """u1 (always with the majority): kappa 1 via the degenerate-
    marginals branch; u2 (one each): p_o = p_e = 0.5 -> kappa 0;
    u3 (always against): opposite marginals -> p_e = 0 -> kappa 0.
    Majority is 'A' on a 3/6 pooled tie (smaller-item tie-break)."""
    from etl_sh_design_spark.operators.preference import rater_agreement_kappa

    out = {
        r["rater"]: r
        for r in rater_agreement_kappa(_pref_events(spark)).collect()
    }
    assert len(out) == 3
    assert (out[1]["n_judgments"], out[1]["n_agree"], out[1]["kappa"]) == (2, 2, 1.0)
    assert (out[2]["n_judgments"], out[2]["n_agree"], out[2]["kappa"]) == (2, 1, 0.0)
    assert (out[3]["n_judgments"], out[3]["n_agree"], out[3]["kappa"]) == (2, 0, 0.0)
    assert out[1]["agreement_rate"] == 1.0
    assert out[2]["agreement_rate"] == 0.5
    assert out[3]["agreement_rate"] == 0.0


def test_position_bias_audit_hand_case(spark):
    """u1: first position won 1 of 2 (rate 0.5, z 0); u2: 0 of 2
    (z = -sqrt(2)); u3: 1 of 2. Counts integer-exact, z at 6dp."""
    from etl_sh_design_spark.operators.preference import position_bias_audit

    out = {
        r["rater"]: r for r in position_bias_audit(_pref_events(spark)).collect()
    }
    assert len(out) == 3
    assert (out[1]["n_comparisons"], out[1]["n_first_wins"]) == (2, 1)
    assert out[1]["z_vs_null"] == 0.0
    assert (out[2]["n_comparisons"], out[2]["n_first_wins"]) == (2, 0)
    assert out[2]["z_vs_null"] == -1.414214
    assert (out[3]["n_comparisons"], out[3]["n_first_wins"]) == (2, 1)
    assert out[3]["first_win_rate"] == 0.5


def test_preference_pairs_consistency_with_bt_stream(spark):
    """The battery's rater-attributed comparison stream must be the
    SAME stream bradley_terry_strengths consumes: same count, same
    (winner, loser) multiset — the audits audit the data the model
    actually fits."""
    from etl_sh_design_spark.operators.preference import (
        _rater_comparisons,
        preference_pairs,
    )

    ev = _pref_events(spark)
    bt = sorted(
        (r["winner"], r["loser"]) for r in preference_pairs(ev).collect()
    )
    rc = sorted(
        (r["winner"], r["loser"]) for r in _rater_comparisons(ev).collect()
    )
    assert bt == rc and len(bt) == 6


def _cycle_events(spark, c_beats_a=True):
    """Three one-comparison raters: A>B, B>C, and C>A (cyclic) or A>C
    (transitive) depending on the flag — every majority strict 1-0."""
    rows = [
        (1, 1, 1, "B", 1.0), (2, 2, 1, "A", 2.0),   # A beats B
        (3, 1, 2, "C", 1.0), (4, 2, 2, "B", 2.0),   # B beats C
    ]
    rows += (
        [(5, 1, 3, "A", 1.0), (6, 2, 3, "C", 2.0)]  # C beats A -> cycle
        if c_beats_a
        else [(7, 1, 3, "C", 1.0), (8, 2, 3, "A", 2.0)]  # A beats C
    )
    return spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    )


def test_preference_cycle_audit_hand_cases(spark):
    """A>B, B>C, C>A is the canonical Condorcet cycle (rate 1.0);
    flipping the last majority makes it transitive (rate 0.0); a tied
    pair drops out of the majority matrix, leaving no complete triple
    (n 0, rate 0.0 — the no-division guard)."""
    from etl_sh_design_spark.operators.preference import preference_cycle_audit

    r = preference_cycle_audit(_cycle_events(spark, True)).collect()[0]
    assert (r["n_triples_complete"], r["n_cyclic"], r["cycle_rate"]) == (1, 1, 1.0)
    r = preference_cycle_audit(_cycle_events(spark, False)).collect()[0]
    assert (r["n_triples_complete"], r["n_cyclic"], r["cycle_rate"]) == (1, 0, 0.0)
    # tie the A-B pair: add one B-beats-A judgment from a fourth rater
    tied = _cycle_events(spark, True).unionByName(
        spark.createDataFrame(
            [(9, 1, 4, "A", 1.0), (10, 2, 4, "B", 2.0)],
            "event_id long, ts long, user_id long, event_type string, value double",
        )
    )
    r = preference_cycle_audit(tied).collect()[0]
    assert (r["n_triples_complete"], r["n_cyclic"], r["cycle_rate"]) == (0, 0, 0.0)


def test_pairwise_winrate_ci_hand_case(spark):
    """u1 judges A>B twice (w=2, n=2): Wilson lower bound at z=1.96 is
    1 / (1 + z²/2) = 0.342372 — the small-n shrinkage a plain normal
    CI (which would read 1.0) exists to avoid."""
    from etl_sh_design_spark.operators.preference import pairwise_winrate_ci

    ev = spark.createDataFrame(
        [(1, 1, 1, "B", 1.0), (2, 2, 1, "A", 2.0), (3, 3, 1, "B", 0.0)],
        "event_id long, ts long, user_id long, event_type string, value double",
    )
    out = pairwise_winrate_ci(ev).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"]) == ("A", "B")
    assert (r["n_comparisons"], r["n_wins_a"]) == (2, 2)
    assert r["win_rate_a"] == 1.0
    assert r["wilson_low_a"] == 0.342372


def test_lsh_band_occupancy_audit_sees_planted_clique(spark):
    """Plant a 30-deep exact-duplicate cluster: every copy has the
    identical MinHash signature, so EVERY band gets a bucket of
    occupancy >= 30 and the top bucket carries >= C(30,2) candidate
    pairs — the audit must surface the clique in max_occupancy and
    top_bucket_pairs (the quantities that stayed flat at 8 across
    three decades in the entities-growth probe)."""
    from etl_sh_design_spark.operators.dedup import minhash_signatures_wide

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet").select(
        "doc_id", "text"
    )
    one = docs.filter(F.col("doc_id") == 1).select("text").collect()[0]["text"]
    clique = spark.createDataFrame(
        [(2_000_000 + i, one) for i in range(30)], "doc_id long, text string"
    )
    sig = minhash_signatures_wide(docs.unionByName(clique))
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.concat_ws(
                ",", *[F.col("sig")[i].cast("string") for i in range(j * 4, (j + 1) * 4)]
            ).alias("band_key"),
        )
        for j in range(4)
    ]
    occ = (
        sig.select(F.explode(F.array(*band_structs)).alias("bk"))
        .select(F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    stats = {
        r["band"]: r
        for r in occ.groupBy("band")
        .agg(
            F.max("occ").alias("max_occ"),
            F.max((F.col("occ") * (F.col("occ") - 1) / 2).cast("bigint")).alias("top_pairs"),
        )
        .collect()
    }
    assert set(stats) == {0, 1, 2, 3}
    for b in stats.values():
        assert b["max_occ"] >= 31  # 30 copies + the original (doc_id 1)
        assert b["top_pairs"] >= 31 * 30 // 2


def test_preference_label_noise_hand_case(spark):
    """A beats B 3-1: BT puts strength(A) > strength(B), so exactly
    the one B-win contradicts the model — n 4, against 1, frac 0.25.
    And on a perfectly transitive corpus nothing is against-model."""
    from etl_sh_design_spark.operators.preference import preference_label_noise

    ev = spark.createDataFrame(
        [
            (1, 1, 1, "B", 1.0), (2, 2, 1, "A", 2.0),
            (3, 3, 1, "B", 0.0), (4, 4, 1, "A", 5.0),
            (5, 1, 2, "A", 1.0), (6, 2, 2, "B", 2.0),
        ],
        "event_id long, ts long, user_id long, event_type string, value double",
    )
    out = preference_label_noise(ev).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"]) == ("A", "B")
    assert (r["n_comparisons"], r["n_against_model"]) == (4, 1)
    assert r["frac_against_model"] == 0.25

    clean = preference_label_noise(_cycle_events(spark, False)).collect()
    assert all(r["n_against_model"] == 0 for r in clean)
    assert sum(r["n_comparisons"] for r in clean) == 3


def test_best_of_n_curve_uniform_pool_closed_form(spark):
    """One pool with scores 1..8: E[max of n] for uniform {1..N} has
    the closed form n(N+1)/(n+1) -> 4.5 / 6.0 / 7.2 / 8.0 at
    n = 1/2/4/8. Terms quantize to integer micro-units BEFORE the sum
    (the order-free-add contract), so the curve is exact to N
    half-micro-units (here <= 4e-6): n = 1 and n = 8 land exactly
    (weights 1/8 and 1 are dyadic), n = 2 and n = 4 within the bound.
    The below-min_pool second pool must be excluded from every n."""
    from etl_sh_design_spark.operators.preference import best_of_n_curve

    rows = [(i, i, 1, "g", float(i)) for i in range(1, 9)]
    rows += [(100 + i, i, 2, "g", 100.0) for i in range(1, 4)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    )
    out = {
        r["n_samples"]: r
        for r in best_of_n_curve(ev, ns=(1, 2, 4, 8), min_pool=8).collect()
    }
    assert len(out) == 4
    assert all(out[n]["n_pools"] == 1 for n in (1, 2, 4, 8))
    assert out[1]["avg_expected_max"] == 4.5
    assert out[8]["avg_expected_max"] == 8.0
    assert abs(out[2]["avg_expected_max"] - 6.0) <= 4e-6
    assert abs(out[4]["avg_expected_max"] - 7.2) <= 4e-6


def test_best_of_n_curve_monotone_and_guarded(spark):
    """On the real sf0.001 events stream the curve must be strictly
    increasing in n (selection never hurts expected max), and
    max(ns) > min_pool must fail loud (the weight denominator would
    hit zero on an N = min_pool pool)."""
    from etl_sh_design_spark.operators.preference import best_of_n_curve
    from etl_sh_design_spark.registry import _t

    ev = _t(spark, SF_SMOKE, "events")
    out = {
        r["n_samples"]: r["avg_expected_max"]
        for r in best_of_n_curve(ev).collect()
    }
    assert out[1] < out[2] < out[4] < out[8]
    with pytest.raises(ValueError, match="min_pool"):
        best_of_n_curve(ev, ns=(1, 16), min_pool=8)


def test_dpo_pair_construction_hand_cases(spark):
    """u1: plain max/min pair (margin 8). u2: tied maxima AND tied
    minima -> both ends break to the smaller event_id. u3: all values
    equal -> margin 0, excluded by the strict gate. u4: singleton
    pool, excluded by n_candidates >= 2."""
    from etl_sh_design_spark.operators.preference import dpo_pair_construction

    rows = [
        (1, 1, 1, "a", 5.0), (2, 2, 1, "b", 9.0), (3, 3, 1, "c", 1.0),
        (4, 1, 2, "a", 7.0), (5, 2, 2, "b", 7.0), (6, 3, 2, "c", 2.0),
        (7, 4, 2, "d", 2.0),
        (8, 1, 3, "a", 4.0), (9, 2, 3, "b", 4.0),
        (10, 1, 4, "a", 3.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    )
    out = {r["prompt_id"]: r for r in dpo_pair_construction(ev).collect()}
    assert set(out) == {1, 2}
    r1 = out[1]
    assert (r1["chosen_id"], r1["rejected_id"], r1["margin"]) == (2, 3, 8.0)
    assert (r1["chosen_item"], r1["rejected_item"]) == ("b", "c")
    assert r1["n_candidates"] == 3
    r2 = out[2]  # ties: smaller id wins BOTH ends
    assert (r2["chosen_id"], r2["rejected_id"]) == (4, 6)
    assert r2["margin"] == 5.0


def test_dpo_pair_margin_gate(spark):
    """min_margin is strict: a pair at exactly the threshold is
    excluded; just above it survives."""
    from etl_sh_design_spark.operators.preference import dpo_pair_construction

    rows = [
        (1, 1, 1, "a", 1.0), (2, 2, 1, "b", 3.0),   # margin 2.0
        (3, 1, 2, "a", 1.0), (4, 2, 2, "b", 3.5),   # margin 2.5
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    )
    got = {r["prompt_id"] for r in dpo_pair_construction(ev, min_margin=2.0).collect()}
    assert got == {2}


def test_best_of_n_curve_matches_subset_enumeration(spark):
    """Property check against brute force: on a random 10-score pool,
    the closed-form rank weights must equal the literal average of
    max(S) over ALL C(10, n) n-subsets, for every n in the curve.
    Tolerance = the documented micro-unit quantization bound
    (N half-micro-units)."""
    import itertools
    import random

    from etl_sh_design_spark.operators.preference import best_of_n_curve

    rng = random.Random(1207)
    scores = [round(rng.uniform(-5, 5), 3) for _ in range(10)]
    rows = [(i, i, 1, "g", s) for i, s in enumerate(scores)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    )
    out = {
        r["n_samples"]: r["avg_expected_max"]
        for r in best_of_n_curve(ev, ns=(1, 2, 3, 5, 10), min_pool=10).collect()
    }
    for n in (1, 2, 3, 5, 10):
        subsets = list(itertools.combinations(scores, n))
        brute = sum(max(s) for s in subsets) / len(subsets)
        assert abs(out[n] - brute) <= 1e-5, (n, out[n], brute)


def test_dpo_pair_matches_pandas_brute_force(spark):
    """Property check against a pandas groupby oracle on 300 random
    events over 40 pools: identical chosen/rejected ids, scores, and
    margins under the same (value, id) total orders."""
    import random

    import pandas as pd

    from etl_sh_design_spark.operators.preference import dpo_pair_construction

    rng = random.Random(42)
    rows = [
        (i, i, rng.randrange(40), rng.choice("abcde"),
         round(rng.uniform(0, 10), 2))
        for i in range(300)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    )
    got = {r["prompt_id"]: r for r in dpo_pair_construction(ev).collect()}

    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    expected = {}
    for uid, g in pdf.groupby("user_id"):
        if len(g) < 2:
            continue
        top = g.sort_values(["value", "event_id"], ascending=[False, True]).iloc[0]
        bot = g.sort_values(["value", "event_id"], ascending=[True, True]).iloc[0]
        if top["value"] - bot["value"] > 0.0:
            expected[uid] = (int(top["event_id"]), int(bot["event_id"]),
                             round(top["value"] - bot["value"], 6), len(g))
    assert set(got) == set(expected)
    for uid, (cid, rid, margin, n) in expected.items():
        r = got[uid]
        assert (r["chosen_id"], r["rejected_id"]) == (cid, rid), uid
        assert r["margin"] == pytest.approx(margin, abs=1e-9)
        assert r["n_candidates"] == n


# ---------------------------------------- randomized battery cross-check
def _brute_comparisons(rows):
    """Pure-Python twin of _rater_comparisons: adjacent (ts, id)-
    ordered pairs per rater, distinct items + distinct values, winner
    by value; returns (rater, winner, loser, first_won) tuples."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for eid, ts, uid, item, val in rows:
        by_user[uid].append((ts, eid, item, val))
    out = []
    for uid, evs in by_user.items():
        evs.sort()
        for (_, _, pi, pv), (_, _, ci, cv) in zip(evs, evs[1:]):
            if pi == ci or pv == cv:
                continue
            first_won = pv > cv
            out.append(
                (uid, pi if first_won else ci, ci if first_won else pi,
                 int(first_won))
            )
    return out


def _random_events(n_events=400, n_raters=25, n_items=5, seed=7):
    import random

    rng = random.Random(seed)
    return [
        (i, rng.randrange(50), rng.randrange(n_raters),
         "ABCDE"[rng.randrange(n_items)], float(rng.randrange(1, 8)))
        for i in range(n_events)
    ]


def test_preference_audits_match_brute_force(spark):
    """The four relational audits against independent pure-Python
    implementations on 400 random events (repeated values and items,
    so ties/degenerate branches are exercised): position-bias counts
    and z, per-rater kappa (including the integer-exact fraction),
    Wilson lower bounds, and the Condorcet triple enumeration."""
    import math
    from collections import defaultdict

    from etl_sh_design_spark.operators.preference import (
        pairwise_winrate_ci,
        position_bias_audit,
        preference_cycle_audit,
        rater_agreement_kappa,
    )

    rows = _random_events()
    ev = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    )
    comps = _brute_comparisons(rows)
    assert len(comps) > 200  # the fixture actually exercises the audits

    # --- position bias
    per = defaultdict(lambda: [0, 0])
    for rater, _, _, fw in comps:
        per[rater][0] += 1
        per[rater][1] += fw
    got = {r["rater"]: r for r in position_bias_audit(ev).collect()}
    assert set(got) == set(per)
    for rater, (n, w) in per.items():
        r = got[rater]
        assert (r["n_comparisons"], r["n_first_wins"]) == (n, w)
        assert r["z_vs_null"] == pytest.approx((2 * w - n) / math.sqrt(n), abs=1e-6)

    # --- kappa
    coded = [
        (rater, min(w, l), max(w, l), int(w == min(w, l)))
        for rater, w, l, _ in comps
    ]
    maj = defaultdict(lambda: [0, 0])
    for _, s, b, cs in coded:
        maj[(s, b)][0] += 1
        maj[(s, b)][1] += cs
    maj_small = {k: int(2 * v[1] >= v[0]) for k, v in maj.items()}
    per_k = defaultdict(lambda: [0, 0, 0, 0])  # n, agree, small, maj_small
    for rater, s, b, cs in coded:
        ms = maj_small[(s, b)]
        a = per_k[rater]
        a[0] += 1
        a[1] += int(cs == ms)
        a[2] += cs
        a[3] += ms
    got_k = {r["rater"]: r for r in rater_agreement_kappa(ev).collect()}
    assert set(got_k) == set(per_k)
    for rater, (n, agree, s, m) in per_k.items():
        chance = s * m + (n - s) * (n - m)
        num, den = n * agree - chance, n * n - chance
        want = 1.0 if den == 0 else round(num / den, 6)
        r = got_k[rater]
        assert (r["n_judgments"], r["n_agree"]) == (n, agree)
        assert r["kappa"] == pytest.approx(want, abs=1e-6), rater

    # --- Wilson CI
    got_w = {
        (r["item_a"], r["item_b"]): r for r in pairwise_winrate_ci(ev).collect()
    }
    assert set(got_w) == set(maj)
    for (s, b), (n, w) in maj.items():
        p, z2 = w / n, 1.96 * 1.96
        low = (p + z2 / (2 * n)
               - 1.96 * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n))) / (1 + z2 / n)
        r = got_w[(s, b)]
        assert (r["n_comparisons"], r["n_wins_a"]) == (n, w)
        assert r["wilson_low_a"] == pytest.approx(round(low, 6), abs=1e-6)

    # --- Condorcet triples
    direction = {
        k: int(2 * v[1] > v[0]) for k, v in maj.items() if 2 * v[1] != v[0]
    }
    n_tri = n_cyc = 0
    items = sorted({x for k in direction for x in k})
    import itertools

    for i, j, k in itertools.combinations(items, 3):
        if ((i, j) in direction and (j, k) in direction and (i, k) in direction):
            d_ij, d_jk, d_ik = direction[(i, j)], direction[(j, k)], direction[(i, k)]
            n_tri += 1
            n_cyc += int((d_ij == 1 and d_jk == 1 and d_ik == 0)
                         or (d_ij == 0 and d_jk == 0 and d_ik == 1))
    r = preference_cycle_audit(ev).collect()[0]
    assert (r["n_triples_complete"], r["n_cyclic"]) == (n_tri, n_cyc)


def test_bradley_terry_matches_python_mm(spark):
    """bradley_terry_strengths against an independent pure-Python MM
    with the IDENTICAL micro-unit quantization schedule on the random
    400-event fixture: same win/game counts, same 6dp strengths after
    3 rounds. Catches any drift between the relational iteration and
    the published MM recurrence (Hunter 2004) beyond what the
    hand-case golden pins."""
    from collections import defaultdict

    from etl_sh_design_spark.operators.preference import (
        bradley_terry_strengths,
    )

    rows = _random_events()
    ev = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    )
    comps = _brute_comparisons(rows)

    wins = defaultdict(int)
    for _, w, l, _ in comps:
        wins[(w, l)] += 1
    games = defaultdict(int)
    for (w, l), c in wins.items():
        games[(w, l)] += c
        games[(l, w)] += c
    n_games = defaultdict(int)
    n_wins = defaultdict(int)
    for (a, b), n in games.items():
        n_games[a] += n
    for (w, _), c in wins.items():
        n_wins[w] += c
    items = sorted(n_games)
    p = {i: 1.0 for i in items}
    for _ in range(3):
        d_micro = defaultdict(int)
        for (a, b), n in games.items():
            d_micro[a] += int(round(n * 1e6 / (p[a] + p[b])))
        p = {
            i: round(n_wins.get(i, 0) * 1e6 / d_micro[i], 6) for i in items
        }
    pm = {i: int(round(p[i] * 1e6)) for i in items}
    tot = sum(pm.values())
    strength = {i: round(pm[i] / tot, 6) for i in items}

    got = {r["event_type"]: r for r in bradley_terry_strengths(ev).collect()}
    assert set(got) == set(items)
    for i in items:
        r = got[i]
        assert (r["n_wins"], r["n_games"]) == (n_wins.get(i, 0), n_games[i]), i
        assert r["strength"] == pytest.approx(strength[i], abs=2e-6), i


def test_battery_shared_subplan_parity(spark):
    """The memoized shared comparison sub-plan (registry_selection.
    battery_comparisons) must be result-identical to each operator's
    standalone window on the real sf0.001 stream, for every battery
    query — and the second registry call must hand back the SAME
    cached frame (one exchange per session per sf_dir)."""
    from etl_sh_design_spark.operators.preference import (
        bradley_terry_strengths,
        pairwise_winrate_ci,
        position_bias_audit,
        preference_cycle_audit,
        preference_label_noise,
        rater_agreement_kappa,
    )
    from etl_sh_design_spark.registry import _t
    from etl_sh_design_spark.registry_selection import battery_comparisons

    ev = _t(spark, SF_SMOKE, "events")
    comps = battery_comparisons(spark, SF_SMOKE)
    assert battery_comparisons(spark, SF_SMOKE) is comps  # memoized

    for op in (
        bradley_terry_strengths,
        position_bias_audit,
        rater_agreement_kappa,
        pairwise_winrate_ci,
        preference_cycle_audit,
        preference_label_noise,
    ):
        a = sorted(map(str, op(ev).collect()))
        b = sorted(map(str, op(ev, comparisons=comps).collect()))
        assert a == b, op.__name__
