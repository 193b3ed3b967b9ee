"""K-means (Lloyd) as declarative iterative dataflow.

The iterative-algorithm pattern on Spark: each Lloyd round is a
broadcast join (vectors x k centroids), an argmin, and a per-dimension
mean — all built-in DataFrame ops, no UDF, with `localCheckpoint`
between rounds to cut lineage (same discipline as
`operators/graph.py`). Centroid state is k×dim rows — driver-tiny at
any corpus scale, while the vector side never leaves its partitions
(the only shuffle is the per-(cluster, dim) mean, k×dim groups).

Determinism contract (what makes the DuckDB oracle hash-match):
- all arithmetic in double (float -> double is exact),
- distances rounded to 6dp BEFORE the argmin, ties -> lowest cluster,
- centroid means rounded to 6dp each round,
- the distance fold runs in index order on both engines.

Init is deterministic: centroid j = vector with vec_id == j. At real
scale swap in k-means|| sampling for the seed WITHOUT touching the
round structure.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_sh_design_spark import memo

_SQDIST = (
    "round(aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)), "
    "cast(0.0 as double), (acc, x) -> acc + x), 6)"
)
# the DuckDB oracles' spelling of the same distance, and the explode of
# a vector into (idx, x) rows for the per-dimension centroid mean
_KM_DIST = "round(list_sum(list_transform(range(1, len(v) + 1), i -> (v[i] - c[i]) * (v[i] - c[i]))), 6)"
_KM_EXPL = "unnest(list_transform(range(1, len(v) + 1), i -> {'idx': i, 'x': v[i]}))"


def _as_double(col: str) -> F.Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, v) x (cluster, c) -> (vec_id, v, cluster, dist);
    nearest centroid, rounded-distance argmin, ties -> lowest id."""
    d = vecs.crossJoin(F.broadcast(centroids)).withColumn("dist", F.expr(_SQDIST))
    best = d.groupBy("vec_id").agg(
        F.min(F.struct("dist", "cluster")).alias("m"), F.first("v").alias("v")
    )
    return best.select(
        "vec_id", "v", F.col("m.cluster").alias("cluster"), F.col("m.dist").alias("dist")
    )


# One live centroid broadcast per Spark application (memo family
# "gemm_centroids"): each _assign_gemm call unpersists the previous
# call's broadcast (unpersist, NOT destroy — a still-lazy earlier plan
# that re-executes simply refetches the value from the driver, so
# correctness is unaffected; only the executor-cached blocks are
# reclaimed). Without this, one Lloyd round per query per bench entry
# accumulates broadcast blocks for the whole session. The memo holds a
# plain namespace, which `memo.clear` drops without destroying what
# it points to.
def _swap_gemm_broadcast(spark, bc) -> None:
    """Make ``bc`` the application's live centroid broadcast and
    unpersist the one it replaces."""
    slot = memo.get(spark, "gemm_centroids", "live", SimpleNamespace)
    prior, slot.bc = getattr(slot, "bc", None), bc
    if prior is not None:
        prior.unpersist(blocking=False)


# Centroid-block shard width for the GEMM assignment kernel: the
# kernel's working set is batch_rows x block doubles x ~3 temporaries
# (acc, diff, and the argmin scratch), so with Arrow's default 10k-row
# batches a 1024-wide block bounds per-task peak at ~250 MB however
# large k grows — the memory half of the capped-k assignment rung
# (SEMDEDUP_MAX_K caps the WORK; this caps the FOOTPRINT at any k).
# For k <= block the loop runs once and is byte-identical to the
# pre-r11 unblocked kernel. Exact parity of the blocked path is pinned
# by test_r11's gemm-block golden: within a block np.argmin takes the
# FIRST minimum (lowest cluster id — the centroid matrix is sorted),
# and across blocks the running best updates on STRICT less-than, so
# the earlier (lower-id) block keeps ties — together exactly the
# global first-minimum rule of the unblocked kernel and `_assign`.
GEMM_CENTROID_BLOCK = 1_024


def _assign_gemm(
    vecs: DataFrame, centroids: DataFrame, block: int = GEMM_CENTROID_BLOCK
) -> DataFrame:
    """Same contract and SAME RESULTS as `_assign`, computed as a
    vectorized NumPy kernel inside `mapInPandas` against the broadcast
    centroid matrix — the assignment form for LARGE k·N products,
    where the relational crossJoin's N x k expression rows (each a
    64-element lambda fold) dominate (the SemDeDup paper's own
    assignment is a GEMM for exactly this reason).

    Equivalence discipline: the squared-distance accumulation loops
    the DIMENSIONS in index order over row-vectorized adds, so the
    float accumulation order per (vector, centroid) is IDENTICAL to
    the relational fold; distances round to 6dp with exact HALF_UP
    semantics (floor(x * 1e6 + 0.5) — valid because squared distances
    are non-negative — matching Spark's round() at the half-ULP
    boundary where np.round would go banker's) before the argmin, and
    ties break to the LOWEST cluster id (the centroid matrix is
    sorted by cluster; np.argmin returns the first minimum). Residual
    FP caveat: Spark's round() rounds the exact decimal value of the
    double, while floor(x*1e6+0.5) rounds the FP product x*1e6, whose
    own rounding can land a half-ULP case on the other side of .5 —
    a measure-zero divergence no fixture has produced; path equality
    is pinned by test_semdedup_quantile's gemm-parity golden.

    Per-task memory is batch_rows x min(k, block) doubles — the
    centroid matrix is sharded into `block`-wide slices inside the
    kernel (GEMM_CENTROID_BLOCK), so the working set stays ~250 MB
    per task however large k grows; centroids are k x dim —
    driver-tiny at any corpus size. One Lloyd round = one centroid
    broadcast; the previous round's broadcast is unpersisted on the
    next call (`_swap_gemm_broadcast`) so long bench/scale
    sessions don't accumulate broadcast blocks."""
    import numpy as np

    spark = vecs.sparkSession
    cents = sorted(
        ((r["cluster"], list(r["c"])) for r in centroids.collect()),
        key=lambda t: t[0],
    )
    cluster_ids = np.array([c for c, _ in cents], dtype="int64")
    cmat = np.array([v for _, v in cents], dtype="float64")  # k x dim
    bc = spark.sparkContext.broadcast((cluster_ids, cmat))
    _swap_gemm_broadcast(spark, bc)

    def fn(batches):
        import pandas as pd

        ids_k, cm = bc.value
        for batch in batches:
            if len(batch) == 0:
                continue
            vm = np.vstack([np.asarray(x, dtype="float64") for x in batch["v"]])
            best_d = np.full(vm.shape[0], np.inf)
            best_p = np.zeros(vm.shape[0], dtype="int64")
            # centroid blocks in ascending cluster-id order (the matrix
            # is sorted), bounding the working set at rows x block
            for b0 in range(0, cm.shape[0], block):
                cb = cm[b0 : b0 + block]
                acc = np.zeros((vm.shape[0], cb.shape[0]))
                for d in range(cb.shape[1]):  # dimension order == fold order
                    diff = vm[:, d : d + 1] - cb[None, :, d]
                    acc += diff * diff
                # HALF_UP on the FP product (see docstring's residual caveat)
                acc = np.floor(acc * 1e6 + 0.5) / 1e6
                j = np.argmin(acc, axis=1)  # first min -> lowest id in block
                dmin = acc[np.arange(len(j)), j]
                upd = dmin < best_d  # strict: earlier block keeps ties
                best_d[upd] = dmin[upd]
                best_p[upd] = b0 + j[upd]
            yield pd.DataFrame(
                {
                    "vec_id": batch["vec_id"].to_numpy(dtype="int64"),
                    "v": batch["v"],
                    "cluster": ids_k[best_p].astype("int32"),
                    "dist": best_d,
                }
            )

    return vecs.select("vec_id", "v").mapInPandas(
        fn, "vec_id bigint, v array<double>, cluster int, dist double"
    )


# assignment-strategy switch: the relational crossJoin materializes
# N x k expression rows per round (each a dim-length lambda fold) —
# fine while the product is small, kernel-bound beyond it. Above this
# product the GEMM form wins; below it, avoiding the cold Python
# worker spin-up wins. Same size-measured dispatch contract as
# similarity.EMBED_BROADCAST_MAX_ROWS / SEMDEDUP_MAX_MEAN_CELL_ROWS.
# Measured crossover (round 9, semantic_dedup end-to-end, warm):
# product 4.4k: 1.9 s relational vs 1.5 s GEMM warm / 3.4 cold (a
# wash — stay relational for the cold-session oracle gate); 19k:
# 4.1 vs 3.3 s; 605k: 20.4 vs 10.4 s; 5.9M: 26.0 vs 5.0 s.
GEMM_ASSIGN_MIN_ROWS_X_CELLS = 10_000


def _update(assigned: DataFrame) -> DataFrame:
    """Per-cluster mean vector, 6dp, reassembled in dimension order."""
    dims = assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
    means = dims.groupBy("cluster", "pos").agg(F.round(F.avg("x"), 6).alias("x"))
    return means.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "x"))), lambda s: s["x"]
        ).alias("c")
    )


def kmeans_cluster_profile(
    embeddings: DataFrame, k: int = 8, iterations: int = 2
) -> DataFrame:
    """Aggregate surface for the oracle: per final cluster, member
    count, inertia (sum of rounded distances, re-rounded), and a
    checksum of the last centroid update."""
    # checkpoint the cast vectors once: every Lloyd round (and the
    # final stats pass) reads them, and without this each consumer
    # re-runs the parquet scan + float->double cast
    vecs = embeddings.select(
        F.col("vec_id"), _as_double("embedding").alias("v")
    ).localCheckpoint(eager=False)
    centroids = vecs.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("v").alias("c")
    )
    assigned = None
    for i in range(iterations):
        assigned = _assign(vecs, centroids)
        if i == iterations - 1:
            # the last assignment feeds BOTH the stats agg and the
            # final centroid update (for the checksum); materialize it
            # once instead of running the round twice
            assigned = assigned.localCheckpoint(eager=False)
        centroids = _update(assigned).localCheckpoint(eager=False)
    stats = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("dist"), 4).alias("inertia"),
    )
    csum = centroids.select(
        "cluster",
        F.round(
            F.aggregate("c", F.lit(0.0).cast("double"), lambda acc, x: acc + x), 4
        ).alias("centroid_checksum"),
    )
    return stats.join(csum, "cluster").select(
        "cluster", "n_vecs", "inertia", "centroid_checksum"
    )
