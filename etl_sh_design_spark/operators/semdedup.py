"""SemDeDup: semantic deduplication via k-means cells + within-cell
cosine pruning (Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication").

The scale shape that makes this tractable at 100 TB:
- embeddings are first clustered (k-means, `operators/kmeans.py` —
  broadcast-centroid rounds, the vector side never shuffles);
- the quadratic cosine comparison then runs ONLY within a cell. In
  the paper k grows with N so the expected cell size stays bounded
  (~N/k); the pairwise stage is Σ|cell|² ≈ N²/k work and its shuffle
  is one repartition by cell id — never an all-pairs cross join.
- within a duplicate relation the paper KEEPS the example with the
  LOWEST cosine similarity to its centroid (farthest = most atypical
  = most informative); we implement exactly that, deterministically.

Removal rule (deterministic on both engines): member r is removed iff
some other member o of the same cell has round(cos(r,o), 6) >= tau
and o outranks r in the keep order (dist DESC, vec_id ASC) — i.e.
o is farther from the centroid, ties broken by lower vec_id. This is
an EXISTS predicate, not an iterative closure, so the whole audit is
one self-join + aggregation (and is exactly SQL-expressible, giving
the full hash oracle in `semdedup_oracle_sql`).

Determinism contract (same discipline as operators/kmeans.py):
double arithmetic; k-means distances and centroid means rounded 6dp
per round with ties -> lowest cluster id; cosine rounded 6dp before
the threshold compare; the dot-product fold runs in index order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_sh_design_spark.operators.kmeans import (
    GEMM_ASSIGN_MIN_ROWS_X_CELLS,
    _KM_DIST,
    _KM_EXPL,
    _as_double,
    _assign,
    _assign_gemm,
    _update,
)

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "cast(0.0 as double), (acc, x) -> acc + x)"
)

# Cell-size discipline (the SemDeDup paper's own recipe): k grows with
# the corpus so the EXPECTED cell size stays bounded and the
# within-cell quadratic stage is Σ|cell|² ≈ N · max_mean_cell_rows —
# LINEAR in N — instead of N²/k_fixed. Same size-measured dispatch
# contract as similarity.py's EMBED_BROADCAST_MAX_ROWS: one count() at
# build time picks the strategy, and the switch point is a documented
# constant. Below the switch (N <= k · bound) the caller's k is used
# verbatim, so small-corpus results — and their SQL oracles, which
# bake k in — are bit-identical to the undispatched operator. Above
# it the cell structure (and therefore the approximate removal set)
# changes with k_eff; that is the paper's stated accuracy/cost knob,
# not a correctness deviation, and it is deterministic for a given N.
SEMDEDUP_MAX_MEAN_CELL_ROWS = 1_000

# The capped-k rung (round 11; SCALE.md "semantic_dedup"): grow-k
# alone leaves BOTH stages super-linear — k_eff = ceil(N/bound) puts
# N·k_eff = N²/bound distance evals in every Lloyd round, and the
# within-cell pair stage stays N·bound relational pair rows, each a
# 64-element lambda fold (the r11 stage breakdown at the 100x corpus:
# 207.7 of 217.5 s was the PAIR stage, not assignment). Above
# SEMDEDUP_MAX_K cells the operator changes regime:
# - k growth stops, so assignment is O(N · MAX_K) — linear — with the
#   GEMM kernel's centroid-block sharding bounding its footprint;
# - the pairwise stage moves to a vectorized per-cell kernel
#   (_cell_stats_gemm) with a candidate horizon: each member is
#   compared against at most SEMDEDUP_CANDIDATE_CAP of its cell's
#   strongest removers (top-CAP by keep order — dist DESC, vec_id
#   ASC — exactly the members that outrank the most others), keeping
#   pair work O(N · CAP) with the per-pair cost vectorized instead of
#   a lambda fold.
# Like the grow-k knob itself, the capped regime is the paper's
# stated accuracy/cost trade (SemDeDup clusters with fixed k ≪ N at
# web scale): a removal is missed only when a member's ONLY
# sufficiently-similar outrankers sit below the top-CAP of its cell.
# Below the cap (N <= MAX_K · bound) nothing changes — results, and
# the SQL oracles, are bit-identical to the pre-r11 operator; at a
# saturated horizon (candidate_cap >= max cell rows) the capped path
# is bit-identical to forcing k = MAX_K through the relational path —
# the forced-path parity golden (test_r11). MAX_K = 64 keeps every
# tested corpus below 1M vectors at task-sized cells (mean N/64); at
# deeper corpora raise MAX_K ~ N/10**4 so cells stay task-sized —
# both knobs are parameters, the constants are the shipped defaults.
#
# CANDIDATE_CAP = 2000 is sized from the measured accuracy/cost curve
# at the 100x corpus (220k vectors + 10% dups, k=64 cells, SCALE.md
# r11): full horizon removes 174,803 in 740.8 s (the max cell — 13k
# rows — is a single-task straggler, |cell|·|cell| work); cap=4096
# removes 170,168 in 163.3 s; cap=2000 removes 151,376 (87% of full)
# in 28.0 s; cap=1000 removes 76,025 (43%) in 12.8 s. The shipped
# default keeps ~87% of the full-horizon removal set while the probe's
# second decade stays ~2.2x wall for 10x data (salted kernel, 16.4 s
# at 100x). Per-cell pair work is ~|cell|·cap — cell skew is absorbed
# by the salted shards (SEMDEDUP_CELL_SALTS below); raise MAX_K with
# very deep corpora to keep |cell| shard-sized.
SEMDEDUP_MAX_K = 64
SEMDEDUP_CANDIDATE_CAP = 2_000


def semdedup_effective_k(
    n: int, k: int, max_mean_cell_rows: int, max_k: int = SEMDEDUP_MAX_K
) -> int:
    """ceil(n / bound) capped at max_k, floored at the caller's k
    (max_k <= 0 disables the cap). Pure so tests can pin the dispatch
    math without a Spark session."""
    if max_mean_cell_rows <= 0:
        return k
    grown = -(-n // max_mean_cell_rows)
    if max_k > 0:
        grown = min(grown, max_k)
    return max(k, grown)


# Straggler control for the capped-regime kernel: a whole cell is one
# applyInPandas task, so a skewed cell pays |cell|·cap pair work
# single-threaded (measured: the 100x corpus's 13,118-row max cell
# carried most of the full-horizon wall). With salting, each cell's
# member rows spread over SALTS cogroup shards while the cell's
# top-cap candidate set is REPLICATED to every shard — same
# comparisons, same pair count, straggler split SALTS ways; the
# duplication is bounded by cap · k_eff · SALTS rows (constants, never
# N). Salted == unsalted == relational is pinned by test_r11 goldens.
SEMDEDUP_CELL_SALTS = 8


def _cell_stats_salted(
    assigned: DataFrame, tau: float, cap: int, salts: int = SEMDEDUP_CELL_SALTS
) -> DataFrame:
    """Capped-regime pairwise stage, salted (see SEMDEDUP_CELL_SALTS):
    r rows shard by pmod(vec_id, salts) within their cell; the cell's
    top-`cap` keep-ranked candidates (the only members that can remove
    anyone under the horizon) are exploded to every shard; a cogroup
    kernel marks removals. Math identical to _cell_stats_gemm — the
    outranked test is evaluated explicitly from (dist, vec_id) instead
    of the sorted-index shortcut, dots/norms keep the in-order
    dimension fold — so results are bit-identical at any salts."""
    import pandas as pd

    from pyspark.sql import Window as W

    R_BLOCK = 4_096

    # the candidate side re-derives from `assigned` with every column
    # ALIASED to a fresh attribute — cogroup plans a join of the two
    # children, and identical attribute ids from the shared parent
    # would trip Spark's ambiguous-self-join analysis
    o = assigned.select(
        F.col("cluster").alias("o_cluster"),
        F.col("vec_id").alias("o_vec_id"),
        F.col("v").alias("o_v"),
        F.col("dist").alias("o_dist"),
    )
    wkeep = W.partitionBy("o_cluster").orderBy(
        F.col("o_dist").desc(), F.col("o_vec_id").asc()
    )
    ranked = o.withColumn("keep_rk", F.row_number().over(wkeep))
    cand = ranked.filter(F.col("keep_rk") <= cap) if cap > 0 else ranked
    cand = cand.select(
        "o_cluster",
        F.explode(F.sequence(F.lit(0), F.lit(salts - 1))).alias("o_salt"),
        "o_vec_id",
        "o_v",
        "o_dist",
    )
    r_side = assigned.select(
        "cluster", F.pmod("vec_id", F.lit(salts)).cast("int").alias("salt"),
        "vec_id", "v", "dist",
    )

    def stats(rpdf: "pd.DataFrame", opdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        if len(rpdf) == 0:
            return pd.DataFrame(
                {"cluster": [], "n_members": [], "n_removed": []}
            ).astype({"cluster": "int32", "n_members": "int64", "n_removed": "int64"})
        cluster = int(rpdf["cluster"].iloc[0])

        def mat(pdf, idc, vc, dc):
            vm = np.vstack([np.asarray(x, dtype="float64") for x in pdf[vc]])
            acc = np.zeros(len(pdf))
            for d in range(vm.shape[1]):
                acc += vm[:, d] * vm[:, d]
            return (
                pdf[idc].to_numpy(dtype="int64"),
                pdf[dc].to_numpy(dtype="float64"),
                vm,
                np.sqrt(acc),
            )

        rid, rdist, rv, rnrm = mat(rpdf, "vec_id", "v", "dist")
        oid, odist, ov, onrm = mat(opdf, "o_vec_id", "o_v", "o_dist")
        removed = np.zeros(len(rpdf), dtype=bool)
        outrank_id = oid[None, :]  # broadcast once
        for r0 in range(0, len(rpdf), R_BLOCK):
            rb = rv[r0 : r0 + R_BLOCK]
            dots = np.zeros((rb.shape[0], ov.shape[0]))
            for d in range(rb.shape[1]):  # dimension order == fold order
                dots += rb[:, d : d + 1] * ov[None, :, d]
            cos = dots / (rnrm[r0 : r0 + rb.shape[0], None] * onrm[None, :])
            cos = np.sign(cos) * (np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6)
            rd = rdist[r0 : r0 + rb.shape[0], None]
            ri = rid[r0 : r0 + rb.shape[0], None]
            outranked = (odist[None, :] > rd) | (
                (odist[None, :] == rd) & (outrank_id < ri)
            )
            ok = (cos >= tau) & outranked & (outrank_id != ri)
            removed[r0 : r0 + rb.shape[0]] = ok.any(axis=1)
        return pd.DataFrame(
            [
                {
                    "cluster": cluster,
                    "n_members": len(rpdf),
                    "n_removed": int(removed.sum()),
                }
            ]
        )

    partial = (
        r_side.groupBy("cluster", "salt")
        .cogroup(cand.groupBy("o_cluster", "o_salt"))
        .applyInPandas(stats, "cluster int, n_members bigint, n_removed bigint")
    )
    return partial.groupBy("cluster").agg(
        F.sum("n_members").alias("n_members"),
        F.sum("n_removed").alias("n_removed"),
        (F.sum("n_members") - F.sum("n_removed")).alias("n_kept"),
    )


def _cell_stats_gemm(assigned: DataFrame, tau: float, cap: int) -> DataFrame:
    """Capped-regime pairwise stage: per-cell (cluster, n_members,
    n_removed, n_kept) computed by a vectorized kernel inside
    `applyInPandas` over cluster groups — the within-cell counterpart
    of kmeans._assign_gemm, and the piece the r11 100x breakdown
    showed actually dominates (207.7 of 217.5 s at 242k vectors was
    the relational pair join's 64-element lambda folds, ~242M pairs;
    NOT the assignment term the r10 notes blamed).

    Result-identity discipline (same as _assign_gemm): members sort by
    keep order (dist DESC, vec_id ASC — a total order, vec_id is
    unique), so "o outranks r" is exactly "o's sorted index < r's";
    dots and norms accumulate the DIMENSIONS in index order over
    row-vectorized adds, so every pair's float sum is bit-identical to
    the relational aggregate() fold; cosines round to 6dp HALF_UP
    (sign-aware floor(|x|*1e6+0.5), same residual FP-product caveat as
    kmeans); candidates are the cell's top-`cap` keep-ranked members.
    At cap >= cell rows this is bit-identical to the relational path
    (the forced-path parity golden in test_r11).

    Scale contract: one cluster-keyed exchange (the groupBy); per-task
    footprint is the cell itself (rows x dim doubles) plus an
    r-block x cap working set (R_BLOCK rows at a time), so pair work
    is O(rows x cap) per cell and memory never materializes the pair
    set. Deep corpora should raise SEMDEDUP_MAX_K so cells stay
    task-sized — the documented knob, not a silent cap."""
    import pandas as pd

    R_BLOCK = 4_096

    def stats(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        n = len(pdf)
        cluster = int(pdf["cluster"].iloc[0])
        vid = pdf["vec_id"].to_numpy(dtype="int64")
        vm = np.vstack([np.asarray(x, dtype="float64") for x in pdf["v"]])
        dist = pdf["dist"].to_numpy(dtype="float64")
        order = np.lexsort((vid, -dist))  # dist DESC, vec_id ASC
        vm = vm[order]
        dim = vm.shape[1]
        # norms: in-order dimension fold, then IEEE sqrt (bit-equal to
        # sqrt(aggregate(zip_with(v, v, ...))))
        acc = np.zeros(n)
        for d in range(dim):
            acc += vm[:, d] * vm[:, d]
        nrm = np.sqrt(acc)
        c = n if cap <= 0 else min(cap, n)
        cand, cand_nrm = vm[:c], nrm[:c]
        removed = np.zeros(n, dtype=bool)
        jidx = np.arange(c)[None, :]
        for r0 in range(0, n, R_BLOCK):
            rb = vm[r0 : r0 + R_BLOCK]
            dots = np.zeros((rb.shape[0], c))
            for d in range(dim):  # dimension order == fold order
                dots += rb[:, d : d + 1] * cand[None, :, d]
            cos = dots / (nrm[r0 : r0 + rb.shape[0], None] * cand_nrm[None, :])
            cos = np.sign(cos) * (np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6)
            ok = cos >= tau
            # only candidates STRICTLY EARLIER in keep order remove
            ok &= jidx < (r0 + np.arange(rb.shape[0]))[:, None]
            removed[r0 : r0 + rb.shape[0]] = ok.any(axis=1)
        n_removed = int(removed.sum())
        return pd.DataFrame(
            [
                {
                    "cluster": cluster,
                    "n_members": n,
                    "n_removed": n_removed,
                    "n_kept": n - n_removed,
                }
            ]
        )

    return assigned.groupBy("cluster").applyInPandas(
        stats, "cluster int, n_members bigint, n_removed bigint, n_kept bigint"
    )


def _semdedup_assigned(
    embeddings: DataFrame,
    k: int,
    iterations: int,
    id_col: str,
    vec_col: str,
    max_mean_cell_rows: int,
    gemm_min_product: int,
    max_k: int,
) -> tuple[DataFrame, bool]:
    """The shared front half of the SemDeDup pipeline: size-measured
    k dispatch + `iterations` Lloyd rounds. Returns (assigned, capped)
    where `capped` says the max_k cap bit and the candidate horizon
    applies downstream. The count() that drives the dispatch also
    materializes the checkpoint every later stage reads — the probe is
    not an extra pass over the data."""
    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
    ).localCheckpoint(eager=False)
    n = vecs.count()
    k_grown = semdedup_effective_k(n, k, max_mean_cell_rows, max_k=0)
    k = semdedup_effective_k(n, k, max_mean_cell_rows, max_k=max_k)
    capped = k < k_grown  # the cap actually bit -> candidate horizon on
    assign = _assign_gemm if n * k >= gemm_min_product > 0 else _assign
    centroids = vecs.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("v").alias("c")
    )
    assigned = None
    for _ in range(iterations):
        assigned = assign(vecs, centroids)
        centroids = _update(assigned).localCheckpoint(eager=False)
    return assigned, capped


def semantic_dedup_profile(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 2,
    tau: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_mean_cell_rows: int = SEMDEDUP_MAX_MEAN_CELL_ROWS,
    gemm_min_product: int = GEMM_ASSIGN_MIN_ROWS_X_CELLS,
    max_k: int = SEMDEDUP_MAX_K,
    candidate_cap: int = SEMDEDUP_CANDIDATE_CAP,
    cell_salts: int = SEMDEDUP_CELL_SALTS,
) -> DataFrame:
    """Per-cell SemDeDup audit: (cluster, n_members, n_removed,
    n_kept, capped). `capped` marks the REGIME the row was computed
    under: False = exact within-cell pruning, True = the capped-k
    path where the `candidate_cap` horizon may MISS removals (never
    invent them) — so a caller crossing the N = max_k ·
    max_mean_cell_rows threshold sees the exact→approximate switch in
    the data, not as a silent n_removed discontinuity (ADVICE r11).
    Cells come from `iterations` Lloyd rounds (same round
    structure as kmeans_cluster_profile: the final assignment uses the
    PREVIOUS round's centroids, so the oracle's a2 CTE matches).

    k is a FLOOR: above N = k · max_mean_cell_rows the cell count
    grows as ceil(N / max_mean_cell_rows) so the quadratic stage stays
    linear in N (see SEMDEDUP_MAX_MEAN_CELL_ROWS). Pass
    max_mean_cell_rows=0 to force the caller's k at any size (the
    oracle-twin configuration).

    Above N = max_k · max_mean_cell_rows the growth CAPS at max_k
    cells and the within-cell comparison is re-bounded by
    `candidate_cap` (see SEMDEDUP_MAX_K): assignment work stays
    O(N·max_k), pair work O(N·candidate_cap) — both linear — at the
    paper's accuracy/cost trade. max_k=0 disables the cap (the
    pre-r11 grow-k behavior); candidate_cap=0 disables the horizon
    while capped (every within-cell pair is still compared).

    The assignment itself dispatches by product: above
    `gemm_min_product` the per-round assignment switches from the
    relational crossJoin to the result-identical vectorized kernel
    (kmeans._assign_gemm — the SemDeDup paper's own GEMM assignment,
    centroid-block-sharded so its footprint is flat in k), so every
    stage of the operator carries its scale mitigation in code."""
    assigned, capped = _semdedup_assigned(
        embeddings, k, iterations, id_col, vec_col,
        max_mean_cell_rows, gemm_min_product, max_k,
    )
    if capped:
        # capped regime: the pairwise stage runs as the vectorized
        # per-cell kernel with the candidate horizon — salted across
        # SEMDEDUP_CELL_SALTS cogroup shards so a skewed cell is never
        # one straggler task (cell_salts<=1 keeps the whole-cell
        # kernel). Both are bit-identical to the relational tail below
        # at a saturated horizon (forced-path parity goldens,
        # test_r11).
        kernel = (
            _cell_stats_salted(assigned, tau, candidate_cap, cell_salts)
            if cell_salts > 1
            else _cell_stats_gemm(assigned, tau, candidate_cap)
        )
        return kernel.withColumn("capped", F.lit(True))
    # members: (vec_id, cluster, dist, v, nrm). The assignment already
    # carries v (kmeans._assign keeps it), so no join back to vecs.
    members = assigned.withColumn(
        "nrm", F.sqrt(F.expr(_DOT.format(a="v", b="v")))
    ).localCheckpoint(eager=False)
    r = members.select(
        F.col("vec_id").alias("r_id"),
        F.col("cluster"),
        F.col("dist").alias("r_dist"),
        F.col("v").alias("r_v"),
        F.col("nrm").alias("r_nrm"),
    )
    o = members.select(
        F.col("vec_id").alias("o_id"),
        F.col("cluster"),
        F.col("dist").alias("o_dist"),
        F.col("v").alias("o_v"),
        F.col("nrm").alias("o_nrm"),
    )
    cos = F.round(
        F.expr(_DOT.format(a="r_v", b="o_v")) / (F.col("r_nrm") * F.col("o_nrm")), 6
    )
    outranked = (F.col("o_dist") > F.col("r_dist")) | (
        (F.col("o_dist") == F.col("r_dist")) & (F.col("o_id") < F.col("r_id"))
    )
    removed = (
        r.join(o, "cluster")
        .filter(F.col("o_id") != F.col("r_id"))
        .filter(outranked)
        .filter(cos >= tau)
        .select(F.col("r_id").alias("vec_id"))
        .distinct()
    )
    return (
        members.join(
            removed.withColumn("_rm", F.lit(1)), "vec_id", "left"
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.coalesce(F.col("_rm"), F.lit(0))).alias("n_removed"),
            (
                F.count(F.lit(1)) - F.sum(F.coalesce(F.col("_rm"), F.lit(0)))
            ).alias("n_kept"),
        )
        .withColumn("capped", F.lit(False))
    )


# --------------------------------------------------------------- oracle


def _semdedup_assign_ctes(vectors_cte: str, k: int) -> str:
    """The two unrolled Lloyd rounds ending in the final assignment
    CTE `a2(vec_id, v, cluster, dist)` — shared by the dedup oracle
    and the horizon audit oracle."""
    return f"""v AS ({vectors_cte}),
c0 AS (SELECT CAST(vec_id AS INT) AS cluster, v AS c FROM v WHERE vec_id < {k}),
d1 AS (SELECT vec_id, v, cluster, {_KM_DIST} AS dist FROM v CROSS JOIN c0),
a1 AS (SELECT vec_id, v, cluster, dist FROM
        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn FROM d1)
       WHERE rn = 1),
e1 AS (SELECT cluster, {_KM_EXPL} AS u FROM a1),
m1 AS (SELECT cluster, u.idx AS idx, round(avg(u.x), 6) AS x FROM e1 GROUP BY 1, 2),
c1 AS (SELECT cluster, list(x ORDER BY idx) AS c FROM m1 GROUP BY 1),
d2 AS (SELECT vec_id, v, cluster, {_KM_DIST} AS dist FROM v CROSS JOIN c1),
a2 AS (SELECT vec_id, v, cluster, dist FROM
        (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn FROM d2)
       WHERE rn = 1)"""


def semdedup_oracle_sql(
    vectors_cte: str, k: int = 8, tau: float = 0.999
) -> str:
    """DuckDB twin: two unrolled Lloyd rounds (identical CTE structure
    to the kmeans_profile oracle) + the EXISTS-style removal self-join.
    `vectors_cte` must yield (vec_id, v) with v already DOUBLE[]."""
    return f"""
WITH {_semdedup_assign_ctes(vectors_cte, k)},
mem AS (SELECT vec_id, v, cluster, dist,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM a2),
rem AS (SELECT DISTINCT r.vec_id
        FROM mem r JOIN mem o ON o.cluster = r.cluster
         AND o.vec_id <> r.vec_id
         AND (o.dist > r.dist OR (o.dist = r.dist AND o.vec_id < r.vec_id))
         AND round(list_sum(list_transform(range(1, len(r.v) + 1),
                                           i -> r.v[i] * o.v[i]))
                   / (r.nrm * o.nrm), 6) >= {tau})
SELECT m.cluster,
       count(*) AS n_members,
       CAST(sum(CASE WHEN rem.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(count(*) - sum(CASE WHEN rem.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       FALSE AS capped
FROM mem m LEFT JOIN rem ON rem.vec_id = m.vec_id
GROUP BY m.cluster
"""


def semdedup_horizon_audit(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_mean_cell_rows: int = SEMDEDUP_MAX_MEAN_CELL_ROWS,
    gemm_min_product: int = GEMM_ASSIGN_MIN_ROWS_X_CELLS,
    max_k: int = SEMDEDUP_MAX_K,
    candidate_cap: int = SEMDEDUP_CANDIDATE_CAP,
) -> DataFrame:
    """Per-cell candidate-horizon saturation signal — the SemDeDup
    twin of pq_shortlist_audit (round 12, closes VERDICT r11 next #3):
    the capped regime bounds each cell's pairwise stage to its top
    `candidate_cap` keep-ranked members, a horizon that MISSES
    removals once a cell outgrows it (measured: CAP=2000 keeps 87% of
    the full-horizon removal set at the 100x corpus, CAP=1000 only
    43% — SCALE.md). Nothing in the dedup output said WHERE that cost
    lands; this audit does, per cell:

    - n_members          — cell size after the shipped assignment
                           dispatch (grow-k + cap, same as the dedup);
    - n_in_horizon       — members the pairwise stage will actually
                           consider as removal candidates
                           (min(n_members, cap) in the capped regime,
                           n_members in the exact regime);
    - horizon_saturated  — 1 iff the capped regime is active AND the
                           cell outgrew the horizon: removals in this
                           cell may be missed, size candidate_cap up
                           (or k/max_k) if the flag fires on cells
                           that matter;
    - capped             — the regime marker (same column the dedup
                           output carries since round 12).

    Scale contract: assignment only — the audit never runs the
    pairwise stage, so it costs one grow-k Lloyd assignment
    (GEMM-dispatched like the dedup) + one |cells|-sized groupBy at
    any corpus size."""
    assigned, capped = _semdedup_assigned(
        embeddings, k, iterations, id_col, vec_col,
        max_mean_cell_rows, gemm_min_product, max_k,
    )
    n = F.count(F.lit(1))
    in_horizon = (
        F.least(n, F.lit(candidate_cap)) if capped and candidate_cap > 0 else n
    )
    saturated = (
        (n > F.lit(candidate_cap)).cast("int")
        if capped and candidate_cap > 0
        else F.lit(0)
    )
    return assigned.groupBy("cluster").agg(
        n.alias("n_members"),
        in_horizon.cast("bigint").alias("n_in_horizon"),
        saturated.alias("horizon_saturated"),
        F.lit(capped).alias("capped"),
    )


def semdedup_horizon_audit_oracle_sql(vectors_cte: str, k: int = 8) -> str:
    """DuckDB twin of `semdedup_horizon_audit` for the EXACT regime —
    the registry corpus sits below the capped switch point (same
    argument as the semantic_dedup oracle), so n_in_horizon equals
    n_members and both flags are constants; the capped columns are
    pinned by forced-regime goldens instead (tests/test_r12.py)."""
    return f"""
WITH {_semdedup_assign_ctes(vectors_cte, k)}
SELECT cluster,
       count(*) AS n_members,
       count(*) AS n_in_horizon,
       CAST(0 AS INT) AS horizon_saturated,
       FALSE AS capped
FROM a2 GROUP BY 1
"""
