"""Similarity search over embedding columns (extension layer).

- `cosine_topk`: brute-force exact top-k — broadcast the (small) query
  side, score the corpus with JVM-side `zip_with`/`aggregate` array
  math (no Python, no shuffle of the corpus), rank per query.
  At 100 TB this is the correct baseline: a scan + broadcast join +
  top-k window; cost is linear in corpus size.

- `lsh_bucket_topk`: the scale path — random-hyperplane (SRP) LSH.
  Each vector gets a small signature; candidates are generated only
  within matching buckets (equi-join on the signature), then scored
  exactly. Turns the all-pairs problem into a hash join.

Embeddings arrive as array<float>; all math is done in double
(float->double widening is exact) for cross-engine determinism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark import memo


# ------------------------------------------------------------- panels
def session_broadcast_panel(df: DataFrame, tag: str, build):
    """Collect `df` driver-side once per (session, plan, tag) and
    broadcast `build(pandas_df)`; returns (broadcast, n_rows).

    The broadcast cannot be released at query construction — the
    returned DataFrame may execute arbitrarily later — so it lives in
    the memo module's "panels" family: a long-lived session (or a
    best-of-N sweep that re-constructs each query) holds one broadcast
    per DISTINCT panel (registry-sized, KBs-MBs each) instead of one
    per construction, and memo.clear("panels") destroys them.

    `build` must be a pure function of the collected rows — the memo
    assumes identical plans produce identical panels."""

    def make():
        pdf = df.toPandas()
        return df.sparkSession.sparkContext.broadcast(build(pdf)), len(pdf)

    return memo.get(df.sparkSession, "panels", (memo.plan_key(df), tag), make)


def _dvec(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: str | Column, b: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


# Hoisting a norm into its own projection so that scoring becomes a
# pure dot product was tried: CollapseProject re-inlines it into the
# transform lambda, so the physical plan is identical to the inline
# form. The per-row aggregate is shared by codegen subexpression
# elimination, not by source-level hoisting.
def _norm(a: str | Column) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_gemm: bool = True,
) -> DataFrame:
    """Exact brute-force cosine top-k: (qid, cid, cos, rk).

    Query side is broadcast; cosine is rounded to 6dp BEFORE ranking so
    rank boundaries are deterministic (ties broken by cid).

    Scoring runs as a BLAS GEMM against the broadcast probe matrix
    inside `mapInPandas` (guide §4: GEMM is the correct kernel for
    dense scoring — the zip_with/aggregate HOF form doesn't codegen
    into a tight loop; measured 8.5 s -> sub-second on the 10x corpus,
    the same ~100x/row class `embedding_near_dup_pairs` measured when
    it made this exact move). Each Arrow batch emits only its LOCAL
    top-k per probe (every row tied at the boundary kept), so the
    global rank window sees ~tasks*k*|probes| rows instead of
    |corpus|*|probes|. Rounding to 6dp happens batch-side with
    np.round exactly like the golden-pinned near-dup GEMM, so rank
    boundaries stay bit-deterministic cross-engine. The HOF relational
    form is kept behind use_gemm=False as the parity twin
    (tests assert row-identical output on the real corpus)."""
    if not use_gemm:
        q = queries.select(F.col(id_col).alias("qid"), _dvec(vec_col).alias("qv"))
        c = corpus.select(F.col(id_col).alias("cid"), _dvec(vec_col).alias("cv"))
        # Scoring is CPU-bound on the corpus side (|corpus| × |queries| ×
        # dim lambda evals in the corpus tasks). A big table is already
        # split by spark.sql.files.maxPartitionBytes, but a corpus smaller
        # than one split arrives as a single partition and serializes the
        # whole scan onto one core — split it to the cluster width. No-op
        # at scale (the partition count already exceeds the parallelism).
        par = corpus.sparkSession.sparkContext.defaultParallelism
        if c.rdd.getNumPartitions() < par:
            c = c.repartition(par)
        scored = (
            c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
            .withColumn(
                "cos",
                F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 6),
            )
            .select("qid", "cid", "cos")
        )
        w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
        return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)

    import numpy as np

    spark = corpus.sparkSession

    # The probe panel is broadcast-sized BY CONTRACT (it was already
    # F.broadcast'ed on the HOF path); driver-materializing it is the
    # same size class as that broadcast, never the corpus. The
    # broadcast is session-memoized (module note above) so repeated
    # constructions reuse one copy instead of leaking one per call.
    def _build(qpdf):
        if len(qpdf) == 0:  # stable empty panel (vstack needs >= 1 row)
            return (
                np.zeros(0, dtype="int64"),
                np.zeros((0, 1)),
                np.zeros(0),
            )
        qids_all = qpdf[id_col].to_numpy(dtype="int64")
        qm_all = np.vstack([np.asarray(v, dtype="float64") for v in qpdf[vec_col]])
        qn_all = np.sqrt((qm_all * qm_all).sum(axis=1))
        return qids_all, qm_all, qn_all

    bc, n_panel = session_broadcast_panel(
        queries.select(id_col, vec_col), f"cosine_topk:{id_col}:{vec_col}", _build
    )
    if n_panel == 0:
        return spark.createDataFrame([], "qid bigint, cid bigint, cos double, rk int")
    kk = int(k)

    def fn(batches):
        import pandas as pd

        qids, qm, qn = bc.value
        for batch in batches:
            if len(batch) == 0:
                continue
            cids = batch[id_col].to_numpy(dtype="int64")
            cm = np.vstack([np.asarray(v, dtype="float64") for v in batch[vec_col]])
            cn = np.sqrt((cm * cm).sum(axis=1))
            cos = np.round((cm @ qm.T) / np.outer(cn, qn), 6)
            # leave-one-out: a corpus row never scores against itself
            cos[cids[:, None] == qids[None, :]] = -np.inf
            kb = min(kk, cos.shape[0])
            # per-probe kth-largest threshold; >= keeps every row tied
            # at the boundary (the global window resolves ties by cid)
            thr = -np.partition(-cos, kb - 1, axis=0)[kb - 1]
            ib, ip = np.nonzero(cos >= thr[None, :])
            keep = np.isfinite(cos[ib, ip])
            yield pd.DataFrame(
                {
                    "qid": qids[ip][keep],
                    "cid": cids[ib][keep],
                    "cos": cos[ib, ip][keep],
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        fn, "qid bigint, cid bigint, cos double"
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def _srp_sign(j: int, d: int) -> int:
    """±1 plane entry from md5("j:d") — the Python twin of
    `md5_int64(concat_ws(':', j, d)) % 2 * 2 - 1`, byte-identical
    because md5 is md5 on both sides."""
    import hashlib

    h = int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:15], 16)
    return (h % 2) * 2 - 1


def srp_signature(
    df: DataFrame,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "bucket",
    dim: int | None = None,
) -> DataFrame:
    """Signed-random-projection signature: bit j = [sum_d plane(j,d) *
    v_d > 0], plane(j,d) = ±1 from md5(j:d) — deterministic, identical
    across engines. Returns df + bucket INT column.

    The plane matrix is tiny (n_planes × dim literals) and fully
    determined by (j, d), so it is materialized ONCE driver-side and
    embedded as literal arrays; each row then computes its projections
    with `zip_with`/`aggregate` inside whole-stage codegen. No explode,
    no shuffle — the previous posexplode→groupBy×2 formulation moved
    N·dim·n_planes rows through two exchanges, which is the difference
    between a map-only pass and a full shuffle of 100 TB × dim.
    Projections are rounded to 6dp before the sign test so a
    numerically-near-zero projection can't flip a bit across engines
    (same guard the aggregating version had).

    Raises:
        ValueError: if `dim` is omitted and the probe (first) row's
            vector is null/empty on a non-empty DataFrame — silently
            bucketing everything to 0 would collapse SRP to one
            bucket, so degraded input fails fast instead (callers
            with mixed/partially-null vectors must pass `dim`)."""
    if dim is None:
        # Eager one-row probe at plan-construction time; fixed-dim
        # contract — every row must carry exactly `dim` entries (rows
        # of a different length project against a truncated/null plane,
        # so callers with mixed widths must pass `dim` explicitly).
        first = df.select(F.size(F.col(vec_col)).alias("n")).first()
        if first is None:
            # truly empty input: nothing to bucket — return the stable
            # schema (bucket 0 on zero rows)
            return df.withColumn(out, F.lit(0).cast("int"))
        if first["n"] is None or first["n"] <= 0:
            # NON-empty frame whose probe row has a null/zero-size
            # vector: silently assigning bucket 0 to every row would
            # collapse SRP to a single bucket — surface the bad input
            # instead (callers with mixed/partially-null vectors must
            # pass `dim` explicitly)
            raise ValueError(
                f"srp_signature: first row's {vec_col!r} is null/empty on a "
                "non-empty DataFrame; pass dim= explicitly"
            )
        dim = first["n"]
    dv = _dvec(vec_col)
    bucket = F.lit(0)
    for j in range(n_planes):
        plane = F.array(*[F.lit(float(_srp_sign(j, d))) for d in range(dim)])
        proj = F.round(
            F.aggregate(
                F.zip_with(dv, plane, lambda x, s: x * s),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return df.withColumn(out, bucket.cast("int"))


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k within SRP-LSH buckets: (qid, cid, cos, rk).

    Same output shape as `cosine_topk` but candidates are restricted to
    the query's bucket — the equi-join on `bucket` is what scales."""
    qs = srp_signature(queries, n_planes, id_col, vec_col).select(
        F.col(id_col).alias("qid"), _dvec(vec_col).alias("qv"), "bucket"
    )
    cs = srp_signature(corpus, n_planes, id_col, vec_col).select(
        F.col(id_col).alias("cid"), _dvec(vec_col).alias("cv"), "bucket"
    )
    scored = (
        cs.join(F.broadcast(qs), "bucket")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cos", F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 6))
        .select("qid", "cid", "cos")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def lsh_multiprobe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Multi-probe SRP-LSH ANN top-k: each query probes its own bucket
    PLUS every Hamming-1 neighbor (one sign bit flipped), n_planes+1
    probes total.

    Single-probe SRP at 4 planes visits 1/16 of the corpus and its
    recall@3 is correspondingly low (~0.13 measured, SCALE.md); one
    ring of probes visits (n_planes+1)/2^n_planes and recovers most of
    the headroom at the same asymptotic shape — candidate generation
    stays a bucket equi-join (probes explode the QUERY side only, a
    dimension-sized panel, never the corpus). This is the standard
    multi-probe LSH trade (Lv et al., VLDB'07): more probes per query
    instead of more hash tables, so the corpus is hashed and stored
    ONCE."""
    qs = (
        srp_signature(queries, n_planes, id_col, vec_col, dim=dim)
        .select(F.col(id_col).alias("qid"), _dvec(vec_col).alias("qv"), "bucket")
        .withColumn(
            "probe",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << j))
                        for j in range(n_planes)
                    ],
                )
            ),
        )
        .drop("bucket")
    )
    cs = srp_signature(corpus, n_planes, id_col, vec_col, dim=dim).select(
        F.col(id_col).alias("cid"), _dvec(vec_col).alias("cv"), "bucket"
    )
    scored = (
        cs.join(F.broadcast(qs), cs["bucket"] == qs["probe"])
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cos", F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 6))
        .select("qid", "cid", "cos")
        # no dedup needed: the n_planes+1 probe values of one query are
        # pairwise distinct, and a corpus row has exactly one bucket,
        # so each (qid, cid) can match at most one probe
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "cell",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its
    nearest-centroid cell (argmax cosine, rounded 6dp before the argmax
    so the assignment is deterministic cross-engine; ties -> lowest
    centroid id). Centroid count is small, so the assignment is a
    broadcast join + per-vector top-1 window."""
    c = centroids.select(F.col(id_col).alias("_cent_id"), _dvec(vec_col).alias("_cv"))
    v = df.select(F.col(id_col), _dvec(vec_col).alias("_vv"))
    scored = v.join(F.broadcast(c)).withColumn(
        "_sim", F.round(_dot("_vv", "_cv") / (_norm("_vv") * _norm("_cv")), 6)
    )
    w = W.partitionBy(id_col).orderBy(F.col("_sim").desc(), F.col("_cent_id").asc())
    best = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(F.col(id_col), F.col("_cent_id").alias(out))
    )
    return df.join(best, id_col)


def ivf_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k (nprobe=1): score only candidates in the query's
    centroid cell. Same output shape as `cosine_topk`. At scale the
    cell equi-join replaces the all-pairs scan; recall/cost trades on
    centroid count and nprobe."""
    qs = ivf_assign(queries, centroids, id_col, vec_col).select(
        F.col(id_col).alias("qid"), _dvec(vec_col).alias("qv"), "cell"
    )
    cs = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("cid"), _dvec(vec_col).alias("cv"), "cell"
    )
    scored = (
        cs.join(F.broadcast(qs), "cell")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cos", F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 6))
        .select("qid", "cid", "cos")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def ivf_multiprobe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k with nprobe > 1: the corpus stays assigned to its
    single nearest cell (hashed/stored ONCE), but each query probes
    its `nprobe` nearest cells — the standard IVF recall knob (same
    trade as `lsh_multiprobe_topk`: probes multiply only the
    dimension-sized query panel, candidate generation stays a cell
    equi-join). A corpus vector lives in exactly one cell and a
    query's probe cells are distinct, so (qid, cid) pairs cannot
    duplicate."""
    c = centroids.select(
        F.col(id_col).alias("_cent_id"), _dvec(vec_col).alias("_cv")
    )
    qv = queries.select(F.col(id_col).alias("qid"), _dvec(vec_col).alias("qv"))
    q_scored = qv.join(F.broadcast(c)).withColumn(
        "_sim", F.round(_dot("qv", "_cv") / (_norm("qv") * _norm("_cv")), 6)
    )
    wq = W.partitionBy("qid").orderBy(F.col("_sim").desc(), F.col("_cent_id").asc())
    qs = (
        q_scored.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= nprobe)
        .select("qid", "qv", F.col("_cent_id").alias("cell"))
    )
    cs = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("cid"), _dvec(vec_col).alias("cv"), "cell"
    )
    scored = (
        cs.join(F.broadcast(qs), "cell")
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cos", F.round(_dot("qv", "cv") / (_norm("qv") * _norm("cv")), 6))
        .select("qid", "cid", "cos")
    )
    w = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


# Broadcast-GEMM contract: one side of the pair computation may be
# driver-materialized and broadcast only up to this many rows
# (~1e6 x 64 doubles = 512 MB matrix; same class as a broadcast join
# side). Larger corpora are auto-routed through the exact blocked
# GEMM — never a silent driver-side materialization.
EMBED_BROADCAST_MAX_ROWS = 1_000_000


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = EMBED_BROADCAST_MAX_ROWS,
    target_block_rows: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-dup: ALL pairs with cos >= threshold,
    computed as a blockwise matrix product.

    Dispatch is by measured corpus size (one count() at build time —
    the operator was already eager here):

    - n <= max_broadcast_rows: one side is materialized and broadcast
      as a NumPy matrix; the other side streams through `mapInPandas`,
      each Arrow batch doing a single BLAS GEMM against it. This
      replaced a zip_with/aggregate expression self-join that was
      ~100x slower (array higher-order functions don't codegen into a
      tight loop; GEMM is the correct kernel).
    - n > max_broadcast_rows: EXACT distributed blocked GEMM — rows are
      hashed into B = ceil(n / target_block_rows) blocks, every block
      pair (i <= j) is cogrouped and multiplied executor-side
      (`applyInPandas`), so per-task memory is two blocks, the driver
      never materializes the corpus, and results are IDENTICAL to the
      broadcast path (golden-pinned). Replication factor is ~B/2 —
      exact all-pairs is inherently quadratic; for true 100 TB-scale
      near-dup use the SRP/IVF candidate generators in this module and
      accept their measured recall instead.
    """
    n = df.count()
    if n > max_broadcast_rows:
        return _blocked_gemm_pairs(
            df, n, threshold, id_col, vec_col, target_block_rows
        )
    import numpy as np

    spark = df.sparkSession

    def _build(pdf):
        if len(pdf) == 0:  # stable empty panel (vstack needs >= 1 row)
            return np.zeros(0, dtype="int64"), np.zeros((0, 1)), np.zeros(0)
        ids_all = pdf[id_col].to_numpy(dtype="int64")
        m_all = np.vstack([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
        norms_all = np.sqrt((m_all * m_all).sum(axis=1))
        return ids_all, m_all, norms_all

    # session-memoized broadcast (module note): re-constructions reuse
    # one panel copy instead of leaking a broadcast per call
    bc, n_panel = session_broadcast_panel(
        df.select(id_col, vec_col), f"near_dup:{id_col}:{vec_col}", _build
    )
    if n_panel == 0:  # empty corpus: stable empty result
        return spark.createDataFrame([], "id_a bigint, id_b bigint, cos double")

    def fn(batches):
        import pandas as pd

        b_ids, b_m, b_norms = bc.value
        for batch in batches:
            if len(batch) == 0:
                continue
            ids = batch[id_col].to_numpy(dtype="int64")
            v = np.vstack([np.asarray(x, dtype="float64") for x in batch[vec_col]])
            nv = np.sqrt((v * v).sum(axis=1))
            cos = np.round((v @ b_m.T) / np.outer(nv, b_norms), 6)
            ia, ib = np.nonzero(cos >= threshold)
            keep = ids[ia] < b_ids[ib]
            yield pd.DataFrame(
                {
                    "id_a": ids[ia][keep],
                    "id_b": b_ids[ib][keep],
                    "cos": cos[ia, ib][keep],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        fn, "id_a bigint, id_b bigint, cos double"
    )


def _blocked_gemm_pairs(
    df: DataFrame,
    n: int,
    threshold: float,
    id_col: str,
    vec_col: str,
    target_block_rows: int,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via distributed blocked
    GEMM: hash rows into B blocks, cogroup every block pair (i <= j),
    multiply executor-side. Output and rounding identical to the
    broadcast path."""
    n_blocks = max(2, -(-n // target_block_rows))
    # Block-pair fan-out happens MAP-SIDE with explode(sequence(...)):
    # a left row in block k serves every pair (k, j >= k), a right row
    # in block k every pair (i <= k, k). No driver-side B(B+1)/2 pair
    # list, no broadcast table — at B=5000 the old createDataFrame
    # carried ~12.5M driver tuples on the very path meant for
    # beyond-broadcast scale. The O(B) per-row replication that remains
    # is the exact all-pairs algorithm itself, not an artifact.
    bk = F.pmod(F.hash(F.col("_id")), F.lit(n_blocks)).cast("int")
    # two independently-aliased lineages (fresh exprIds on every output
    # column) so the cogroup is not an ambiguous self-join
    lt = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).withColumn("_bk", bk)
    rt = df.select(
        F.col(id_col).alias("_rid"), F.col(vec_col).alias("_rvec")
    ).withColumn("_rbk", F.pmod(F.hash(F.col("_rid")), F.lit(n_blocks)).cast("int"))
    lhs = (
        lt.withColumn("_bi", F.col("_bk"))
        .withColumn("_bj", F.explode(F.sequence(F.col("_bk"), F.lit(n_blocks - 1))))
        .drop("_bk")
    )
    rhs = (
        rt.withColumn("_ci", F.explode(F.sequence(F.lit(0), F.col("_rbk"))))
        .withColumn("_cj", F.col("_rbk"))
        .drop("_rbk")
    )

    def gemm(key, left, right):
        import numpy as np
        import pandas as pd

        bi, bj = key
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        la = left["_id"].to_numpy(dtype="int64")
        lm = np.vstack([np.asarray(v, dtype="float64") for v in left["_vec"]])
        ln = np.sqrt((lm * lm).sum(axis=1))
        ra = right["_rid"].to_numpy(dtype="int64")
        rm = np.vstack([np.asarray(v, dtype="float64") for v in right["_rvec"]])
        rn = np.sqrt((rm * rm).sum(axis=1))
        cos = np.round((lm @ rm.T) / np.outer(ln, rn), 6)
        ia, ib = np.nonzero(cos >= threshold)
        c = cos[ia, ib]
        if bi == bj:
            # diagonal block: each unordered pair appears twice (and
            # self-pairs once) -> id_a < id_b keeps exactly one copy
            keep = la[ia] < ra[ib]
            id_a, id_b, c = la[ia][keep], ra[ib][keep], c[keep]
        else:
            # cross blocks: each unordered pair appears exactly once
            # (left row from block i, right from block j) — normalize
            # the orientation, never drop
            id_a = np.minimum(la[ia], ra[ib])
            id_b = np.maximum(la[ia], ra[ib])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos": c})

    return (
        lhs.groupBy("_bi", "_bj")
        .cogroup(rhs.groupBy("_ci", "_cj"))
        .applyInPandas(gemm, "id_a bigint, id_b bigint, cos double")
    )
