"""Vector and retrieval queries over the `embeddings` and `documents`
tables: exact and ANN similarity search (SRP-LSH, IVF, multiprobe),
the PQ / IVF-PQ ladder with its re-rank, shortlist and recall audits,
embedding statistics and near-dups, the kNN label checks, hard-negative
mining, k-center coresets, semantic decontamination, TF-IDF / BM25 and
the k-means profile.

Cosines are rounded to 6 dp before ranking or averaging on both
engines, and every rank is fully tie-broken. Probe panels are
fixed-size (at most a few hundred query vectors however large the
corpus grows), so the exact-scoring work stays linear in the corpus.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark.operators.coreset import kcenter_coreset, kcenter_oracle_sql
from etl_sh_design_spark.operators.dedup import MD5_INT64_SQL, md5_int64
from etl_sh_design_spark.operators.kmeans import _KM_DIST, _KM_EXPL, kmeans_cluster_profile
from etl_sh_design_spark.operators.pq import (
    _sqdist,
    ivfpq_rerank_auto_oracle_sql,
    ivfpq_rerank_topk,
    ivfpq_rerank_topk_oracle_sql,
    ivfpq_shortlist_audit,
    ivfpq_shortlist_audit_oracle_sql,
    ivfpq_topk,
    ivfpq_topk_oracle_sql,
    pq_rerank_auto_oracle_sql,
    pq_rerank_topk,
    pq_rerank_topk_oracle_sql,
    pq_shortlist_audit,
    pq_shortlist_audit_oracle_sql,
    pq_topk,
    pq_topk_oracle_sql,
)
from etl_sh_design_spark.operators.similarity import (
    _dot,
    _dvec,
    _norm,
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_assign,
    ivf_bucket_topk,
    ivf_multiprobe_topk,
    lsh_bucket_topk,
    lsh_multiprobe_topk,
    session_broadcast_panel,
)
from etl_sh_design_spark.registry import _LOWER_TOKS, _repartitioned, _t, query


# ------------------------------------------------------- similarity search
_VE = (
    "SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d, "
    "CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings"
)


@query(
    "similarity_topk",
    f"""
WITH ve AS ({_VE}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ve GROUP BY 1),
dots AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.v * c.v) AS dot
  FROM ve q JOIN ve c ON q.d = c.d AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
),
ranked AS (
  SELECT qid, cid, cos,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS INT) AS rk
  FROM scored
)
SELECT qid, cid, cos, rk FROM ranked WHERE rk <= 3
""",
)
def q_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-3 for query vectors vec_id<10 (exact ANN
    baseline: broadcast queries, scan corpus, JVM-side array math)."""
    e = _t(spark, sf_dir, "embeddings")
    return cosine_topk(e.filter(F.col("vec_id") < 10), e, k=3)


@query(
    "similarity_ann_lsh",
    f"""
WITH ve AS ({_VE}),
planes AS (
  SELECT j, d,
         ({MD5_INT64_SQL.format(x="CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)")} % 2) * 2 - 1 AS sign
  FROM (SELECT CAST(range AS INT) AS j FROM range(0, 4)),
       (SELECT CAST(range AS INT) AS d FROM range(0, 64))
),
proj AS (
  SELECT vec_id, j, round(sum(sign * v), 6) AS proj
  FROM ve JOIN planes USING (d) GROUP BY 1, 2
),
sig AS (
  SELECT vec_id, CAST(sum(CASE WHEN proj > 0 THEN 1 << j ELSE 0 END) AS INT) AS bucket
  FROM proj GROUP BY 1
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ve GROUP BY 1),
cand AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid
  FROM sig q JOIN sig c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
),
dots AS (
  SELECT cand.qid, cand.cid, sum(q.v * c.v) AS dot
  FROM cand JOIN ve q ON q.vec_id = cand.qid JOIN ve c ON c.vec_id = cand.cid AND c.d = q.d
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
),
ranked AS (
  SELECT qid, cid, cos,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS INT) AS rk
  FROM scored
)
SELECT qid, cid, cos, rk FROM ranked WHERE rk <= 3
""",
)
def q_similarity_ann(spark, sf_dir):
    """ANN top-3 via signed-random-projection LSH (4 planes, 16
    buckets): the scale path — candidates come from an equi-join on
    the bucket signature, never an all-pairs scan."""
    e = _t(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(e.filter(F.col("vec_id") < 10), e, k=3, n_planes=4)


_N_CENTROIDS = 16


@query(
    "similarity_ann_ivf",
    f"""
WITH ve AS ({_VE}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ve GROUP BY 1),
cents AS (SELECT vec_id AS cent_id, d, v FROM ve WHERE vec_id < {_N_CENTROIDS}),
cnorms AS (SELECT cent_id, sqrt(sum(v * v)) AS cnrm FROM cents GROUP BY 1),
assign_scored AS (
  SELECT a.vec_id, c.cent_id,
         round(sum(a.v * c.v) / (any_value(n.nrm) * any_value(cn.cnrm)), 6) AS sim
  FROM ve a
  JOIN cents c ON a.d = c.d
  JOIN norms n ON n.vec_id = a.vec_id
  JOIN cnorms cn ON cn.cent_id = c.cent_id
  GROUP BY 1, 2
),
assigned AS (
  SELECT vec_id, cent_id AS cell
  FROM (SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id ASC) AS rk
        FROM assign_scored)
  WHERE rk = 1
),
cand AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid
  FROM assigned q JOIN assigned c ON q.cell = c.cell AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
),
dots AS (
  SELECT cand.qid, cand.cid, sum(q.v * c.v) AS dot
  FROM cand JOIN ve q ON q.vec_id = cand.qid
            JOIN ve c ON c.vec_id = cand.cid AND c.d = q.d
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
),
ranked AS (
  SELECT qid, cid, cos,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS INT) AS rk
  FROM scored
)
SELECT qid, cid, cos, rk FROM ranked WHERE rk <= 3
""",
)
def q_similarity_ivf(spark, sf_dir):
    """IVF ANN top-3 (nprobe=1, 16 deterministic centroids): the
    inverted-file scale path — candidates restricted to the query's
    nearest-centroid cell."""
    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < _N_CENTROIDS)
    return ivf_bucket_topk(e.filter(F.col("vec_id") < 10), e, cents, k=3)


@query(
    "similarity_ann_ivf_multiprobe",
    f"""
WITH ve AS ({_VE}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ve GROUP BY 1),
cents AS (SELECT vec_id AS cent_id, d, v FROM ve WHERE vec_id < {_N_CENTROIDS}),
cnorms AS (SELECT cent_id, sqrt(sum(v * v)) AS cnrm FROM cents GROUP BY 1),
assign_scored AS (
  SELECT a.vec_id, c.cent_id,
         round(sum(a.v * c.v) / (any_value(n.nrm) * any_value(cn.cnrm)), 6) AS sim
  FROM ve a
  JOIN cents c ON a.d = c.d
  JOIN norms n ON n.vec_id = a.vec_id
  JOIN cnorms cn ON cn.cent_id = c.cent_id
  GROUP BY 1, 2
),
ranked_cells AS (
  SELECT vec_id, cent_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id ASC) AS rk
  FROM assign_scored
),
assigned AS (SELECT vec_id, cent_id AS cell FROM ranked_cells WHERE rk = 1),
probes AS (SELECT vec_id, cent_id AS cell FROM ranked_cells
           WHERE rk <= 2 AND vec_id < 10),
cand AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid
  FROM probes q JOIN assigned c ON q.cell = c.cell AND q.vec_id <> c.vec_id
),
dots AS (
  SELECT cand.qid, cand.cid, sum(q.v * c.v) AS dot
  FROM cand JOIN ve q ON q.vec_id = cand.qid
            JOIN ve c ON c.vec_id = cand.cid AND c.d = q.d
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
),
ranked AS (
  SELECT qid, cid, cos,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS INT) AS rk
  FROM scored
)
SELECT qid, cid, cos, rk FROM ranked WHERE rk <= 3
""",
)
def q_similarity_ivf_multiprobe(spark, sf_dir):
    """IVF ANN top-3 with nprobe=2: the corpus stays in its single
    nearest cell (indexed once), each query probes its TWO nearest
    cells — the IVF twin of `ann_multiprobe_recall`'s SRP Hamming
    ring, and the standard IVF recall knob at 100 TB (recall rises
    with nprobe, candidate cost stays |probed cells| x cell size,
    never all-pairs)."""
    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < _N_CENTROIDS)
    return ivf_multiprobe_topk(e.filter(F.col("vec_id") < 10), e, cents, k=3, nprobe=2)


@query(
    "ann_recall_at_k",
    f"""
WITH ve AS ({_VE}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ve GROUP BY 1),
bdots AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.v * c.v) AS dot
  FROM ve q JOIN ve c ON q.d = c.d AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10 GROUP BY 1, 2
),
brute AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid
             ORDER BY round(dot / (nq.nrm * nc.nrm), 6) DESC, cid ASC) AS rk
    FROM bdots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
  ) WHERE rk <= 3
),
planes AS (
  SELECT j, d,
         ({MD5_INT64_SQL.format(x="CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)")} % 2) * 2 - 1 AS sign
  FROM (SELECT CAST(range AS INT) AS j FROM range(0, 4)),
       (SELECT CAST(range AS INT) AS d FROM range(0, 64))
),
proj AS (
  SELECT vec_id, j, round(sum(sign * v), 6) AS proj
  FROM ve JOIN planes USING (d) GROUP BY 1, 2
),
sig AS (
  SELECT vec_id, CAST(sum(CASE WHEN proj > 0 THEN 1 << j ELSE 0 END) AS INT) AS bucket
  FROM proj GROUP BY 1
),
cand AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid
  FROM sig q JOIN sig c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
),
adots AS (
  SELECT cand.qid, cand.cid, sum(q.v * c.v) AS dot
  FROM cand JOIN ve q ON q.vec_id = cand.qid
            JOIN ve c ON c.vec_id = cand.cid AND c.d = q.d
  GROUP BY 1, 2
),
ann AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid
             ORDER BY round(dot / (nq.nrm * nc.nrm), 6) DESC, cid ASC) AS rk
    FROM adots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
  ) WHERE rk <= 3
)
SELECT b.qid, CAST(count(a.cid) AS INT) AS n_hits,
       round(count(a.cid) / 3.0e0, 6) AS recall
FROM brute b LEFT JOIN ann a ON a.qid = b.qid AND a.cid = b.cid
GROUP BY 1
""",
)
def q_ann_recall(spark, sf_dir):
    """ANN quality evaluation: recall@3 of the SRP-LSH index against
    the exact brute-force top-3, per query vector — the standard ANN
    acceptance metric, computed as a join of the two existing
    pipelines (no new math). Integer hit counts, so cross-engine
    exact; at scale this is the query you run before trusting an
    index over 10^9 embeddings."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    brute = cosine_topk(q, e, k=3).select("qid", "cid")
    ann = lsh_bucket_topk(q, e, k=3, n_planes=4).select(
        F.col("qid").alias("aqid"), F.col("cid").alias("acid")
    )
    j = brute.join(ann, (brute.qid == ann.aqid) & (brute.cid == ann.acid), "left")
    return j.groupBy("qid").agg(
        F.count("acid").cast("int").alias("n_hits"),
        F.round(F.count("acid") / 3.0, 6).alias("recall"),
    )


@query(
    "ann_multiprobe_recall",
    f"""
WITH ve AS ({_VE}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ve GROUP BY 1),
bdots AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.v * c.v) AS dot
  FROM ve q JOIN ve c ON q.d = c.d AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10 GROUP BY 1, 2
),
brute AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid
             ORDER BY round(dot / (nq.nrm * nc.nrm), 6) DESC, cid ASC) AS rk
    FROM bdots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
  ) WHERE rk <= 3
),
planes AS (
  SELECT j, d,
         ({MD5_INT64_SQL.format(x="CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)")} % 2) * 2 - 1 AS sign
  FROM (SELECT CAST(range AS INT) AS j FROM range(0, 4)),
       (SELECT CAST(range AS INT) AS d FROM range(0, 64))
),
proj AS (
  SELECT vec_id, j, round(sum(sign * v), 6) AS proj
  FROM ve JOIN planes USING (d) GROUP BY 1, 2
),
sig AS (
  SELECT vec_id, CAST(sum(CASE WHEN proj > 0 THEN 1 << j ELSE 0 END) AS INT) AS bucket
  FROM proj GROUP BY 1
),
probes AS (
  SELECT vec_id,
         CASE WHEN p = -1 THEN bucket ELSE xor(bucket, 1 << p) END AS probe
  FROM sig, (SELECT CAST(range AS INT) - 1 AS p FROM range(0, 5))
  WHERE vec_id < 10
),
cand AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid
  FROM probes q JOIN sig c ON c.bucket = q.probe AND q.vec_id <> c.vec_id
),
adots AS (
  SELECT cand.qid, cand.cid, sum(q.v * c.v) AS dot
  FROM cand JOIN ve q ON q.vec_id = cand.qid
            JOIN ve c ON c.vec_id = cand.cid AND c.d = q.d
  GROUP BY 1, 2
),
ann AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid
             ORDER BY round(dot / (nq.nrm * nc.nrm), 6) DESC, cid ASC) AS rk
    FROM adots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
  ) WHERE rk <= 3
)
SELECT b.qid, CAST(count(a.cid) AS INT) AS n_hits,
       round(count(a.cid) / 3.0e0, 6) AS recall
FROM brute b LEFT JOIN ann a ON a.qid = b.qid AND a.cid = b.cid
GROUP BY 1
""",
)
def q_ann_multiprobe_recall(spark, sf_dir):
    """recall@3 of MULTI-PROBE SRP-LSH (own bucket + all Hamming-1
    neighbors, 5 probes at 4 planes) against the exact brute-force
    top-3 — the scale-path answer to `ann_recall_at_k`'s measured
    ~0.13 single-probe recall (SCALE.md recall-at-scale table): probes
    multiply only the dimension-sized query panel, never the corpus,
    so candidate generation stays a bucket equi-join."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    brute = cosine_topk(q, e, k=3).select("qid", "cid")
    # dim=64 (the embeddings-table contract, hard-coded in the oracle's
    # plane CTE too) keeps construction lazy: the srp first-row dim
    # probe would otherwise run 2 jobs at build time
    # (tests/test_lazy_construction.py)
    ann = lsh_multiprobe_topk(q, e, k=3, n_planes=4, dim=64).select(
        F.col("qid").alias("aqid"), F.col("cid").alias("acid")
    )
    j = brute.join(ann, (brute.qid == ann.aqid) & (brute.cid == ann.acid), "left")
    return j.groupBy("qid").agg(
        F.count("acid").cast("int").alias("n_hits"),
        F.round(F.count("acid") / 3.0, 6).alias("recall"),
    )


_EMBEDDING_NEARDUP_SQL = f"""
WITH ve AS ({_VE}),
aug AS (
  SELECT vec_id, d, v FROM ve
  UNION ALL
  SELECT vec_id + 1000000, d, v * (1 + 0.01e0 * ((d % 2) * 2 - 1)) FROM ve
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM aug GROUP BY 1),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
  FROM aug a JOIN aug b ON a.d = b.d AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cos
  FROM dots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.99
"""


def _augmented_embeddings(spark, sf_dir):
    """The embedding set, each vector U a deterministic ±1% perturbation
    of it at vec_id + 1e6, double-widened."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pert = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * (1 + 0.01 * ((i % 2) * 2 - 1))
        ).alias("embedding"),
    )
    return e.unionByName(pert)


@query("embedding_neardup", _EMBEDDING_NEARDUP_SQL)
def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos >= 0.99) on the augmented
    embedding set (each vector U a deterministic ±1% perturbation)."""
    return embedding_near_dup_pairs(_augmented_embeddings(spark, sf_dir), threshold=0.99)


@query("embedding_neardup_blocked", _EMBEDDING_NEARDUP_SQL)
def q_embedding_neardup_blocked(spark, sf_dir):
    """`embedding_neardup` with the EXACT distributed blocked-GEMM
    path forced (max_broadcast_rows below the corpus size): same
    oracle, same rows — the driver-checked proof that the cogrouped
    block-pair decomposition is bit-identical to the broadcast path,
    on top of the local golden. Dispatch normally picks this path
    automatically past 1e6 rows (operators/similarity.py)."""
    return embedding_near_dup_pairs(
        _augmented_embeddings(spark, sf_dir),
        threshold=0.99,
        max_broadcast_rows=100,
        target_block_rows=400,
    )


# --------------------------------------------------- TF-IDF similarity
@query(
    "tfidf_cosine_topk",
    r"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t != '')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
w AS (
  SELECT tf.doc_id, tf.token,
         tf.tf * ln((n.n_docs + 1.0e0) / (df.df + 1.0e0)) AS wgt
  FROM tf JOIN df USING (token) CROSS JOIN n
),
nrm AS (SELECT doc_id, sqrt(sum(wgt * wgt)) AS nrm FROM w GROUP BY 1),
dots AS (
  SELECT q.doc_id AS qid, c.doc_id AS cid, sum(q.wgt * c.wgt) AS dot
  FROM w q JOIN w c ON q.token = c.token AND q.doc_id <> c.doc_id
  WHERE q.doc_id < 10
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS cos
  FROM dots JOIN nrm nq ON nq.doc_id = qid JOIN nrm nc ON nc.doc_id = cid
)
SELECT qid, cid, cos,
       CAST(rk AS INT) AS rk
FROM (
  SELECT qid, cid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rk
  FROM scored
)
WHERE rk <= 3
""",
)
def q_tfidf_cosine_topk(spark, sf_dir):
    """TF-IDF cosine top-3 similar documents for the first 10 docs:
    sparse-vector similarity via an inverted-index join on token —
    the classic scale path for text similarity (cost is sum over
    tokens of q_freq x c_freq, never |docs|^2). Cosine is rounded 6dp
    BEFORE ranking, ties broken by cid, as everywhere else."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = _repartitioned(spark, d)
    tok = d.select("doc_id", F.explode(F.expr(_LOWER_TOKS)).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # The weighted postings table fans out THREE ways (norms, probe
    # side, inverted-index join) — without the cache each consumer
    # re-runs the tokenize -> tf -> idf chain from the scan (measured
    # 3 full recomputes; min wall 5.7 -> 3.5 s at sf0.1). .cache(),
    # NOT localCheckpoint(eager=False): under AQE a "lazy" checkpoint
    # still executes every upstream query stage at BUILD time
    # (AdaptiveSparkPlanExec materializes on toRdd — measured 9 jobs
    # from construction alone), which breaks the laziness gate.
    w = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            ).alias("wgt"),
        )
        .cache()
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("wgt") * F.col("wgt"))).alias("nrm"))
    q = w.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("qid"), "token", F.col("wgt").alias("qw")
    )
    dots = (
        w.select(F.col("doc_id").alias("cid"), "token", F.col("wgt").alias("cw"))
        .join(F.broadcast(q), "token")
        .filter(F.col("qid") != F.col("cid"))
        .groupBy("qid", "cid")
        .agg(F.sum(F.col("qw") * F.col("cw")).alias("dot"))
    )
    nq = nrm.select(F.col("doc_id").alias("qid"), F.col("nrm").alias("nq"))
    nc = nrm.select(F.col("doc_id").alias("cid"), F.col("nrm").alias("nc"))
    scored = (
        dots.join(F.broadcast(nq), "qid")
        .join(F.broadcast(nc), "cid")
        .select("qid", "cid", F.round(F.col("dot") / (F.col("nq") * F.col("nc")), 6).alias("cos"))
    )
    rk = W.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rk", F.row_number().over(rk).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("qid", "cid", "cos", "rk")
    )


# ------------------------------------------------------ BM25 retrieval
# fixed query-term set: one rare token ('dup' — the near-dup mutation
# marker, df~5% of docs, high idf) anchors the ranking; four
# mid-frequency tokens exercise the dl/avgdl length normalization
_BM25_TERMS = ("dup", "spark", "vector", "merge", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "bm25_topk",
    r"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t != '')) AS token
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
terms AS (SELECT * FROM (VALUES ('dup'), ('spark'), ('vector'), ('merge'), ('window')) AS t(token)),
tf AS (
  SELECT tok.doc_id, tok.token, count(*) AS tf
  FROM tok JOIN terms USING (token) GROUP BY 1, 2
),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id,
         ln(1.0e0 + (s.n_docs - df.df + 0.5e0) / (df.df + 0.5e0))
         * (tf.tf * (1.2e0 + 1.0e0))
         / (tf.tf + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * dl.dl / s.avgdl)) AS w
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats s
),
scored AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_terms, round(sum(w), 6) AS score
  FROM contrib GROUP BY 1
)
SELECT doc_id, n_terms, score, CAST(rk AS INT) AS rk
FROM (
  SELECT doc_id, n_terms, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk
  FROM scored
)
WHERE rk <= 10
""",
)
def q_bm25_topk(spark, sf_dir):
    """BM25 (k1=1.2, b=0.75, Lucene idf) top-10 documents for a fixed
    5-term query — the ranked-retrieval companion to
    `tfidf_cosine_topk`'s all-pairs similarity: the scoring primitive a
    retrieval/decontamination pass runs per probe query over a 100 TB
    corpus. Score is rounded 6dp BEFORE ranking, ties by doc_id, as
    everywhere else.

    Scale shape: one token-explode scan feeds BOTH the per-doc length
    (map-side partial count) and the query-term postings — the isin()
    filter on the 5-term set cuts the postings map-side, so every join
    after the scan is query-term-sized, not corpus-sized. df (5 rows)
    and the avgdl/N scalar broadcast; dl joins on doc_id (the one keyed
    shuffle). Top-10 is orderBy+limit -> TakeOrderedAndProject (per-
    partition heaps + driver merge of 10-row heads, never a global
    sort); rk is assigned AFTER the limit so the window sees 10 rows."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = _repartitioned(spark, d)
    tok = d.select("doc_id", F.explode(F.expr(_LOWER_TOKS)).alias("token"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    tf = (
        tok.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
    )
    contrib = (
        tf.join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (idf * (F.col("tf") * F.lit(_BM25_K1 + 1.0)) / norm).alias("w"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms"),
        F.round(F.sum("w"), 6).alias("score"),
    )
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(10)
    rk = F.row_number().over(W.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
    return top.select("doc_id", "n_terms", "score", rk.cast("int").alias("rk"))


@query(
    "knn_label_accuracy",
    f"""
WITH ve AS ({_VE}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ve GROUP BY 1),
dots AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.v * c.v) AS dot
  FROM ve q JOIN ve c ON q.d = c.d AND q.vec_id <> c.vec_id
  WHERE q.vec_id % 7 = 0 AND q.vec_id < 3500
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
),
topk AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rk
    FROM scored) WHERE rk <= 3
),
lab AS (SELECT vec_id, label FROM embeddings),
votes AS (
  SELECT t.qid, ql.label AS qlabel, cl.label AS clabel, count(*) AS n
  FROM topk t
  JOIN lab ql ON ql.vec_id = t.qid
  JOIN lab cl ON cl.vec_id = t.cid
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT qid, qlabel, clabel AS plabel FROM (
    SELECT qid, qlabel, clabel,
           row_number() OVER (PARTITION BY qid ORDER BY n DESC, clabel ASC) AS vr
    FROM votes) WHERE vr = 1
)
SELECT qlabel AS label, count(*) AS n_probes,
       CAST(sum(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(sum(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) * 1.0e0 / count(*), 6)
         AS accuracy
FROM pred GROUP BY 1
""",
)
def q_knn_label_accuracy(spark, sf_dir):
    """Leave-one-out 3-NN label accuracy on a fixed ≤500-probe panel.

    The probe side is broadcast inside `cosine_topk`; the corpus is
    scanned once, scored JVM-side, and ranked per probe. The panel is
    capped (vec_id < 3500) so exact-eval cost stays LINEAR in corpus
    size — at 10^9 vectors this is the shape you run on a fixed probe
    panel before trusting the ANN index (`ann_recall_at_k` checks the
    index against the same exact ranking)."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") < 3500))
    topk = cosine_topk(probes, e, k=3).select("qid", "cid")
    lab = e.select("vec_id", "label")
    votes = (
        topk.join(
            lab.select(F.col("vec_id").alias("qid"), F.col("label").alias("qlabel")),
            "qid",
        )
        .join(
            lab.select(F.col("vec_id").alias("cid"), F.col("label").alias("clabel")),
            "cid",
        )
        .groupBy("qid", "qlabel", "clabel")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("qid").orderBy(F.col("n").desc(), F.col("clabel").asc())
    pred = (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(F.col("vr") == 1)
        .select("qid", "qlabel", F.col("clabel").alias("plabel"))
    )
    return pred.groupBy(F.col("qlabel").alias("label")).agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.when(F.col("plabel") == F.col("qlabel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("plabel") == F.col("qlabel"), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


@query(
    "class_separation",
    f"""
WITH ve AS (
  SELECT e.vec_id, e.label, v.d, v.v FROM embeddings e
  JOIN ({_VE}) v ON v.vec_id = e.vec_id
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ve GROUP BY 1),
uv AS (
  SELECT ve.vec_id, ve.label, ve.d, ve.v / n.nrm AS u
  FROM ve JOIN norms n ON n.vec_id = ve.vec_id
),
cent AS (SELECT label, d, avg(u) AS m FROM uv GROUP BY 1, 2),
cnorm AS (SELECT label, sqrt(sum(m * m)) AS cn FROM cent GROUP BY 1),
dots AS (
  SELECT u.vec_id, u.label, sum(u.u * c.m) AS dot
  FROM uv u JOIN cent c ON c.label = u.label AND c.d = u.d
  GROUP BY 1, 2
),
doccos AS (
  SELECT d.label, round(d.dot / cn.cn, 6) AS cos_c
  FROM dots d JOIN cnorm cn USING (label)
),
coh AS (
  -- sum exact integer micro-cosines (cos_c is already 6dp) so the
  -- mean is order-independent — same discipline as bv_totals
  SELECT label, count(*) AS n_vecs,
         round(sum(CAST(round(cos_c * 1e6) AS BIGINT)) / (count(*) * 1e6), 6)
           AS cohesion
  FROM doccos GROUP BY 1
),
cdots AS (
  SELECT a.label AS la, b.label AS lb, sum(a.m * b.m) AS dot
  FROM cent a JOIN cent b ON a.d = b.d AND a.label <> b.label
  GROUP BY 1, 2
),
inter AS (
  SELECT la AS label, max(round(dot / (ca.cn * cb.cn), 6)) AS max_other_sim
  FROM cdots JOIN cnorm ca ON ca.label = la JOIN cnorm cb ON cb.label = lb
  GROUP BY 1
)
SELECT c.label, c.n_vecs, c.cohesion, i.max_other_sim,
       round(c.cohesion - i.max_other_sim, 6) AS margin
FROM coh c JOIN inter i USING (label)
""",
)
def q_class_separation(spark, sf_dir):
    """Per-label centroid cohesion vs nearest-other-centroid
    similarity, and their margin.

    Scale shape: the ONLY input-sized exchange is the centroid
    groupBy(label, d), whose map-side combine caps every partition's
    output at L×dim rows; the cohesion pass joins the assembled
    centroid arrays back by a broadcast label join and scores rows
    with `zip_with` inside codegen (rows never shuffle). The
    centroid×centroid pass is L² — metadata-sized."""
    e = _t(spark, sf_dir, "embeddings")
    u = (
        e.select("vec_id", "label", _dvec("embedding").alias("dv"))
        .withColumn("uv", F.transform("dv", lambda x: x / _norm(F.col("dv"))))
        .select("vec_id", "label", "uv")
    )
    ex = u.select("label", F.posexplode("uv").alias("d", "u"))
    cent = ex.groupBy("label", "d").agg(F.avg("u").alias("m"))
    carr = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("sm"))
        .withColumn("cv", F.transform("sm", lambda s: s["m"]))
        .select("label", "cv")
        .withColumn("cn", _norm(F.col("cv")))
    )
    doc = u.join(F.broadcast(carr), "label").withColumn(
        "cos_c", F.round(_dot("uv", "cv") / F.col("cn"), 6)
    )
    # exact integer micro-cosine sum -> order-independent mean (the
    # double-sum of 6dp values can straddle a round-6 boundary
    # depending on partial-agg order; the bigint sum cannot)
    coh = doc.withColumn(
        "cos_u", F.round(F.col("cos_c") * 1e6, 0).cast("bigint")
    ).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("cos_u") / (F.count(F.lit(1)) * 1e6), 6).alias("cohesion"),
    )
    a = carr.select("label", F.col("cv").alias("ca"), F.col("cn").alias("na"))
    b = carr.select(
        F.col("label").alias("lb"), F.col("cv").alias("cb"), F.col("cn").alias("nb")
    )
    inter = (
        a.join(b, F.col("label") != F.col("lb"))
        .withColumn("sim", F.round(_dot("ca", "cb") / (F.col("na") * F.col("nb")), 6))
        .groupBy("label")
        .agg(F.max("sim").alias("max_other_sim"))
    )
    return coh.join(inter, "label").select(
        "label",
        "n_vecs",
        "cohesion",
        "max_other_sim",
        F.round(F.col("cohesion") - F.col("max_other_sim"), 6).alias("margin"),
    )


# --------------------------------------------------------------------
# hash-stratified kNN panel (closes the r5 verdict's "watch" note)
# --------------------------------------------------------------------

_PANEL = 500


@query(
    "knn_label_accuracy_stratified",
    f"""
WITH panel AS (
  SELECT vec_id FROM (
    SELECT vec_id, {MD5_INT64_SQL.format(x="CAST(vec_id AS VARCHAR)")} AS h
    FROM embeddings
  ) ORDER BY h, vec_id LIMIT {_PANEL}
),
ve AS ({_VE}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ve GROUP BY 1),
dots AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.v * c.v) AS dot
  FROM ve q JOIN panel p ON p.vec_id = q.vec_id
  JOIN ve c ON q.d = c.d AND q.vec_id <> c.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, cid, round(dot / (nq.nrm * nc.nrm), 6) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nc ON nc.vec_id = cid
),
topk AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rk
    FROM scored) WHERE rk <= 3
),
lab AS (SELECT vec_id, label FROM embeddings),
votes AS (
  SELECT t.qid, ql.label AS qlabel, cl.label AS clabel, count(*) AS n
  FROM topk t
  JOIN lab ql ON ql.vec_id = t.qid
  JOIN lab cl ON cl.vec_id = t.cid
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT qid, qlabel, clabel AS plabel FROM (
    SELECT qid, qlabel, clabel,
           row_number() OVER (PARTITION BY qid ORDER BY n DESC, clabel ASC) AS vr
    FROM votes) WHERE vr = 1
)
SELECT qlabel AS label, count(*) AS n_probes,
       CAST(sum(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(sum(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) * 1.0e0 / count(*), 6)
         AS accuracy
FROM pred GROUP BY 1
""",
)
def q_knn_label_accuracy_stratified(spark, sf_dir):
    """`knn_label_accuracy` with the HASH-STRATIFIED probe panel the
    r5 verdict's watch note asked for: the 500 vectors with the
    SMALLEST md5(vec_id) values — an unbiased deterministic sample of
    the whole corpus (no id-prefix bias), still hard-capped at 500
    probes at ANY corpus size (the exact-scoring work stays linear in
    N; the panel is an order-statistic of a uniform hash, selected by
    TakeOrderedAndProject — no global sort exchange). md5 is
    bit-identical across engines, so the panel — and hence the hash —
    is oracle-stable."""
    e = _t(spark, sf_dir, "embeddings")
    panel = (
        e.select("vec_id", md5_int64(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(_PANEL)
        .select("vec_id")
    )
    probes = e.join(F.broadcast(panel), "vec_id")
    topk = cosine_topk(probes, e, k=3).select("qid", "cid")
    lab = e.select("vec_id", "label")
    votes = (
        topk.join(
            lab.select(F.col("vec_id").alias("qid"), F.col("label").alias("qlabel")),
            "qid",
        )
        .join(
            lab.select(F.col("vec_id").alias("cid"), F.col("label").alias("clabel")),
            "cid",
        )
        .groupBy("qid", "qlabel", "clabel")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("qid").orderBy(F.col("n").desc(), F.col("clabel").asc())
    pred = (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(F.col("vr") == 1)
        .select("qid", "qlabel", F.col("clabel").alias("plabel"))
    )
    return pred.groupBy(F.col("qlabel").alias("label")).agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.when(F.col("plabel") == F.col("qlabel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("plabel") == F.col("qlabel"), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


# ------------------------------------------------ k-center coreset
_K_CENTERS = 8


@query("kcenter_coreset", kcenter_oracle_sql(k=_K_CENTERS))
def q_kcenter_coreset(spark, sf_dir):
    """Greedy k-center diversity coreset over the embeddings table
    (operators/coreset.py — see its docstring for the 100 TB contract:
    k-row broadcast center state, one vector-table pass per round,
    TakeOrdered(1) argmax, lineage cut per round, job-free
    construction)."""
    e = _t(spark, sf_dir, "embeddings")
    return kcenter_coreset(e, k=_K_CENTERS)


# ------------------------------------------- semantic decontamination
_SD_DOT = (
    "round(aggregate(zip_with(v, pv, (a, b) -> a * b), "
    "cast(0.0 as double), (acc, x) -> acc + x), 6)"
)
_SD_NORM = (
    "round(aggregate(zip_with({c}, {c}, (a, b) -> a * b), "
    "cast(0.0 as double), (acc, x) -> acc + x), 6)"
)

_SD_DOT_DUCK = (
    "round(list_sum(list_transform(range(1, len(v) + 1), "
    "i -> v[i] * pv[i])), 6)"
)
_SD_NORM_DUCK = (
    "round(list_sum(list_transform(range(1, len({c}) + 1), "
    "i -> {c}[i] * {c}[i])), 6)"
)

_SD_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
panel AS (SELECT vec_id AS probe_id, v AS pv FROM e
          WHERE vec_id % 50 = 0 AND vec_id < 500),
planted AS (
  SELECT probe_id + 1000000 AS vec_id,
         list_transform(range(1, len(pv) + 1),
                        i -> pv[i] * (1 + 0.01 * (((i - 1) % 2) * 2 - 1))) AS v
  FROM panel
),
train AS (
  SELECT vec_id, v FROM e WHERE vec_id % 50 != 0 OR vec_id >= 500
  UNION ALL SELECT vec_id, v FROM planted
),
scored AS (
  SELECT t.vec_id, p.probe_id,
         round({_SD_DOT_DUCK}
               / (sqrt({_SD_NORM_DUCK.format(c='v')})
                  * sqrt({_SD_NORM_DUCK.format(c='pv')})), 6) AS cos
  FROM train t CROSS JOIN panel p
  WHERE {_SD_NORM_DUCK.format(c='v')} > 0
    AND {_SD_NORM_DUCK.format(c='pv')} > 0
)
SELECT probe_id,
       CAST(count(CASE WHEN cos >= 0.99 THEN 1 END) AS BIGINT)
         AS n_contaminated,
       round(max(cos), 6) AS max_cos
FROM scored GROUP BY 1
"""


@query("semantic_decontamination", _SD_SQL)
def q_semantic_decontamination(spark, sf_dir):
    """Embedding-side benchmark decontamination — the semantic rung
    the n-gram (`decontamination`) and Bloom (`bloom_decontamination`)
    variants cannot catch: paraphrased/perturbed eval leaks that share
    no 8-gram with the eval set. The eval panel is FIXED-SIZE
    (vec_id % 50 == 0 below id 500 — an eval set does not grow with
    the training corpus, which is what keeps the whole query linear
    in corpus size); the training corpus is everything else PLUS a
    planted +-1% perturbation of each panel vector (the registry's
    standard deterministic near-dup fixture, embedding_neardup's
    idiom). For each probe: how many training vectors sit at cosine
    >= 0.99, and the max cosine seen.

    Scale shape: the panel is eval-set-sized (KBs-MBs) and BROADCAST;
    the corpus side is a single map-only scan (zip_with dot + norms
    inside codegen, no vector shuffle); the rollup groups by probe_id
    — panel-bounded. For panels too large to broadcast, step down to
    the bucketed ANN ladder (similarity_ann_ivf / similarity_ann_lsh)
    — same contract as `embedding_neardup`'s documented dispatch.
    Determinism: index-order dot/norm folds rounded 6 dp before the
    division, cosine rounded 6 dp before threshold/max on BOTH
    engines.

    Scoring runs as a BLAS GEMM against the broadcast eval panel
    inside mapInPandas since round 12 (guide §4.2 — same move as
    cosine_topk / hard_negative_mining; the HOF form stays behind
    use_gemm=False as the parity twin). Each Arrow batch emits ONE
    partial row per probe (count of cos >= 0.99 + batch max), so the
    exchange is ~tasks x |panel| rows; all roundings (dot and squared
    norms at 6 dp before the division, cosine at 6 dp before the
    threshold/max) happen batch-side with np.round."""
    return semantic_decontamination_result(spark, sf_dir, use_gemm=True)


def semantic_decontamination_result(spark, sf_dir, use_gemm: bool = True):
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    panel = e.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    planted = panel.select(
        (F.col("probe_id") + 1000000).alias("vec_id"),
        F.transform(
            "pv", lambda x, i: x * (1 + 0.01 * ((i % 2) * 2 - 1))
        ).alias("v"),
    )
    train = e.filter(
        (F.col("vec_id") % 50 != 0) | (F.col("vec_id") >= 500)
    ).unionByName(planted)
    if use_gemm:
        import numpy as np

        def _build(ppdf):  # eval-panel-sized by contract
            p_ids = ppdf["probe_id"].to_numpy(dtype="int64")
            if len(ppdf):
                pm = np.vstack(
                    [np.asarray(v, dtype="float64") for v in ppdf["pv"]]
                )
            else:
                pm = np.zeros((0, 1))
            # _SD_NORM: squared norms rounded 6 dp BEFORE sqrt/division
            pn2 = np.round((pm * pm).sum(axis=1), 6)
            keep_p = pn2 > 0  # zero-norm guard, same as the HOF path
            p_ids, pm, pn2 = p_ids[keep_p], pm[keep_p], pn2[keep_p]
            return p_ids, pm, np.sqrt(pn2)

        # session-memoized broadcast (similarity module note): repeat
        # constructions reuse one panel instead of leaking a broadcast
        bc, _ = session_broadcast_panel(panel, "semantic_decon", _build)

        def fn(batches):
            import pandas as pd

            pids, qm, qn = bc.value
            for batch in batches:
                if len(batch) == 0 or len(pids) == 0:
                    continue
                cm = np.vstack(
                    [np.asarray(v, dtype="float64") for v in batch["v"]]
                )
                cn2 = np.round((cm * cm).sum(axis=1), 6)
                ok = cn2 > 0
                if not ok.any():
                    continue
                cm, cn2 = cm[ok], cn2[ok]
                dot = np.round(cm @ qm.T, 6)
                cos = np.round(dot / np.outer(np.sqrt(cn2), qn), 6)
                yield pd.DataFrame(
                    {
                        "probe_id": pids,
                        "cnt": (cos >= 0.99).sum(axis=0).astype("int64"),
                        "mx": cos.max(axis=0),
                    }
                )

        partial = train.select("v").mapInPandas(
            fn, "probe_id bigint, cnt bigint, mx double"
        )
        return partial.groupBy("probe_id").agg(
            F.sum("cnt").cast("bigint").alias("n_contaminated"),
            F.round(F.max("mx"), 6).alias("max_cos"),
        )
    scored = (
        train.crossJoin(F.broadcast(panel))
        .withColumn("dot", F.expr(_SD_DOT))
        .withColumn("n_v", F.expr(_SD_NORM.format(c="v")))
        .withColumn("n_p", F.expr(_SD_NORM.format(c="pv")))
        # zero-norm guard: cosine is undefined for the zero vector, and
        # the two engines disagree on double x/0 (ANSI Spark THROWS,
        # DuckDB yields NULL) — excluding zero-norm rows is the one
        # behavior both engines express identically
        .filter((F.col("n_v") > 0) & (F.col("n_p") > 0))
        .withColumn(
            "cos",
            F.round(
                F.col("dot") / (F.sqrt(F.col("n_v")) * F.sqrt(F.col("n_p"))), 6
            ),
        )
    )
    return scored.groupBy("probe_id").agg(
        F.count(F.when(F.col("cos") >= 0.99, 1)).alias("n_contaminated"),
        F.round(F.max("cos"), 6).alias("max_cos"),
    )


# ---------------------------------------------- embedding dim stats
_EDS_SQL = """
WITH x AS (
  SELECT u.dim AS dim, u.x AS x FROM (
    SELECT unnest(list_transform(range(1, len(embedding) + 1),
           i -> {'dim': i - 1, 'x': CAST(embedding[i] AS DOUBLE)})) AS u
    FROM embeddings)
)
SELECT dim, CAST(count(*) AS BIGINT) AS n,
       round(avg(x), 6) AS mean_x,
       round(stddev_samp(x), 4) AS std_x,
       round(min(x), 6) AS min_x,
       round(max(x), 6) AS max_x
FROM x GROUP BY 1
"""


@query("embedding_dim_stats", _EDS_SQL)
def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding statistics (mean / sample std / min /
    max): the centering-and-whitening preprocessing table the ANN
    ladder consumes — IVF and PQ train better on centered vectors, and
    a dimension whose std collapses to ~0 is dead weight a projection
    step should drop. One table, D rows, read before building any
    index.

    Scale shape: posexplode is map-side (D rows out per vector, no
    Python); the rollup has exactly D groups (64 here) with map-side
    partials, so the shuffle is D rows per task at any corpus size.
    Float discipline: float->double cast per element; mean/min/max
    rounded 6 dp, the variance-accumulating std rounded 4 dp (the
    engines' merge orders differ; 4 dp absorbs the last-ulp wobble,
    the same contract as stats_summary's stddev)."""
    e = _t(spark, sf_dir, "embeddings")
    x = e.select(F.posexplode("embedding").alias("dim", "xf")).select(
        "dim", F.col("xf").cast("double").alias("x")
    )
    return x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("x"), 6).alias("mean_x"),
        F.round(F.stddev_samp("x"), 4).alias("std_x"),
        F.round(F.min("x"), 6).alias("min_x"),
        F.round(F.max("x"), 6).alias("max_x"),
    )


# --------------------------------------------- hard-negative mining

_HNM_SQL = f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
p AS (SELECT vec_id AS a_id, label AS a_label, v AS pv FROM e
      WHERE vec_id % 9 = 0 AND vec_id < 500),
s AS (
  SELECT a_id, a_label, t.vec_id, t.label,
         round({_SD_DOT_DUCK}
               / (sqrt({_SD_NORM_DUCK.format(c='v')})
                  * sqrt({_SD_NORM_DUCK.format(c='pv')})), 6) AS cos
  FROM e t CROSS JOIN p
  WHERE t.vec_id != a_id
    AND {_SD_NORM_DUCK.format(c='v')} > 0
    AND {_SD_NORM_DUCK.format(c='pv')} > 0
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY a_id, (label = a_label)
                               ORDER BY cos DESC, vec_id) AS rn
  FROM s
)
SELECT a_id, a_label,
       max(CASE WHEN label = a_label AND rn = 1 THEN vec_id END) AS pos_id,
       max(CASE WHEN label = a_label AND rn = 1 THEN cos END) AS pos_cos,
       max(CASE WHEN label != a_label AND rn = 1 THEN vec_id END) AS neg_id,
       max(CASE WHEN label != a_label AND rn = 1 THEN cos END) AS neg_cos,
       round(max(CASE WHEN label = a_label AND rn = 1 THEN cos END)
             - max(CASE WHEN label != a_label AND rn = 1 THEN cos END), 6)
         AS margin
FROM r GROUP BY 1, 2
"""


@query("hard_negative_mining", _HNM_SQL)
def q_hard_negative_mining(spark, sf_dir):
    """Contrastive-pair mining for embedding-model training data: for
    every anchor in a fixed probe panel (vec_id % 9 == 0), the most
    similar SAME-label vector (the positive) and the most similar
    DIFFERENT-label vector (the hard negative), plus the margin
    between them — the mining step behind triplet/InfoNCE training
    sets, and the per-anchor drill-down of `class_separation`'s
    aggregate view (an anchor with a negative margin is exactly a
    boundary violator worth hand-review).

    Scale shape: the anchor panel is FIXED-SIZE (vec_id % 9 == 0
    below id 500 — a mining batch, not a corpus fraction; the lesson
    semantic_decontamination's 7.4x-at-10x first draft taught) and
    broadcast against ONE map-only corpus scan (zip_with dot + norms
    in-row). The top-1-per-(anchor, same-label) winner is a groupBy
    max(struct(cos, -vec_id)) — NOT a window — so map-side partial
    aggregation collapses each task's contribution to at most
    2 x |panel| rows before the exchange (the window-form first draft
    measured 7.2 MB -> 704 MB shuffle and 12 s -> 130 s wall at 10x
    with a corpus-fraction panel; this form is panel-bounded). Mining
    over ALL anchors at 100 TB steps down to the bucketed ANN ladder
    (similarity_ann_ivf / _lsh), exactly as embedding_neardup
    documents. Determinism: cosine rounded 6 dp BEFORE the max, and
    the -vec_id struct field makes the winner total-ordered (the
    DuckDB twin's row_number ORDER BY cos DESC, vec_id picks the same
    row); zero-norm vectors are excluded on both engines (ANSI x/0
    vs NULL divergence).

    Scoring runs as a BLAS GEMM against the broadcast anchor panel
    inside mapInPandas since round 12 (guide §4.2 — the
    zip_with/aggregate HOF form does not codegen into a tight loop;
    same move as cosine_topk). Each Arrow batch emits only its LOCAL
    winner per (anchor, same-label) class, so the global max(struct)
    aggregate sees ~tasks x 2 x |panel| rows. All roundings (dot and
    squared norms at 6 dp BEFORE the division, cosine at 6 dp before
    the max) happen batch-side with np.round exactly like the
    golden-pinned near-dup GEMM. The HOF relational form stays behind
    use_gemm=False as the parity twin (tests assert row-identical
    output on the real corpus at two SFs)."""
    return hnm_result(spark, sf_dir, use_gemm=True)


def hnm_result(spark, sf_dir, use_gemm: bool = True):
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    panel = e.filter(
        (F.col("vec_id") % 9 == 0) & (F.col("vec_id") < 500)
    ).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("v").alias("pv"),
    )
    if use_gemm:
        import numpy as np

        def _build(ppdf):  # panel-sized by contract (56 anchors)
            a_ids = ppdf["a_id"].to_numpy(dtype="int64")
            a_labels = ppdf["a_label"].to_numpy(dtype="int64")
            if len(ppdf):
                pm = np.vstack(
                    [np.asarray(v, dtype="float64") for v in ppdf["pv"]]
                )
            else:
                pm = np.zeros((0, 1))
            # _SD_NORM: squared norms rounded 6 dp BEFORE sqrt/division
            pn2 = np.round((pm * pm).sum(axis=1), 6)
            keep_p = pn2 > 0
            a_ids, a_labels, pm, pn2 = (
                a_ids[keep_p], a_labels[keep_p], pm[keep_p], pn2[keep_p]
            )
            return a_ids, a_labels, pm, np.sqrt(pn2)

        # session-memoized broadcast (similarity module note): repeat
        # constructions reuse one panel instead of leaking a broadcast
        bc, _ = session_broadcast_panel(panel, "hnm_anchors", _build)

        def fn(batches):
            import pandas as pd

            aids, alabs, qm, qn = bc.value
            for batch in batches:
                if len(batch) == 0 or len(aids) == 0:
                    continue
                cids = batch["vec_id"].to_numpy(dtype="int64")
                labs = batch["label"].to_numpy(dtype="int64")
                cm = np.vstack(
                    [np.asarray(v, dtype="float64") for v in batch["v"]]
                )
                cn2 = np.round((cm * cm).sum(axis=1), 6)
                ok = cn2 > 0
                dot = np.round(cm @ qm.T, 6)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.round(
                        dot / np.outer(np.sqrt(np.where(ok, cn2, 1.0)), qn), 6
                    )
                cos[~ok, :] = -np.inf
                cos[cids[:, None] == aids[None, :]] = -np.inf
                same = labs[:, None] == alabs[None, :]
                out: dict[str, list] = {
                    "a_id": [], "a_label": [], "same": [],
                    "cos": [], "vec_id": [],
                }
                for j in range(len(aids)):
                    col = cos[:, j]
                    for cls in (True, False):
                        s_col = np.where(same[:, j] == cls, col, -np.inf)
                        best_cos = s_col.max()
                        if not np.isfinite(best_cos):
                            continue
                        # tie-break: smallest vec_id at the max cos —
                        # the max(struct(cos, -vec_id)) order
                        win = cids[s_col == best_cos].min()
                        out["a_id"].append(aids[j])
                        out["a_label"].append(alabs[j])
                        out["same"].append(cls)
                        out["cos"].append(best_cos)
                        out["vec_id"].append(win)
                if out["a_id"]:
                    yield pd.DataFrame(out)

        local_best = e.mapInPandas(
            fn,
            "a_id bigint, a_label int, same boolean, cos double, vec_id bigint",
        )
        best = local_best.groupBy("a_id", "a_label", "same").agg(
            F.max(
                F.struct(
                    F.col("cos").alias("cos"), (-F.col("vec_id")).alias("nv")
                )
            ).alias("b")
        )
        return _hnm_tail(best)
    s = (
        e.crossJoin(F.broadcast(panel))
        .filter(F.col("vec_id") != F.col("a_id"))
        .withColumn("dot", F.expr(_SD_DOT))
        .withColumn("n_v", F.expr(_SD_NORM.format(c="v")))
        .withColumn("n_p", F.expr(_SD_NORM.format(c="pv")))
        .filter((F.col("n_v") > 0) & (F.col("n_p") > 0))
        .withColumn(
            "cos",
            F.round(
                F.col("dot") / (F.sqrt(F.col("n_v")) * F.sqrt(F.col("n_p"))), 6
            ),
        )
        .withColumn("same", F.col("label") == F.col("a_label"))
    )
    best = s.groupBy("a_id", "a_label", "same").agg(
        F.max(
            F.struct(
                F.col("cos").alias("cos"), (-F.col("vec_id")).alias("nv")
            )
        ).alias("b")
    )
    return _hnm_tail(best)


def _hnm_tail(best):
    pos_id = F.max(F.when(F.col("same"), -F.col("b.nv")))
    pos_cos = F.max(F.when(F.col("same"), F.col("b.cos")))
    neg_id = F.max(F.when(~F.col("same"), -F.col("b.nv")))
    neg_cos = F.max(F.when(~F.col("same"), F.col("b.cos")))
    return best.groupBy("a_id", "a_label").agg(
        pos_id.alias("pos_id"),
        pos_cos.alias("pos_cos"),
        neg_id.alias("neg_id"),
        neg_cos.alias("neg_cos"),
        F.round(pos_cos - neg_cos, 6).alias("margin"),
    )


# ------------------------------------- hard-negative mining, IVF path

_HNM_NPROBE = 2

_HNM_IVF_SQL = f"""
WITH ve AS ({_VE}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ve GROUP BY 1),
cents AS (SELECT vec_id AS cent_id, d, v FROM ve WHERE vec_id < {_N_CENTROIDS}),
cnorms AS (SELECT cent_id, sqrt(sum(v * v)) AS cnrm FROM cents GROUP BY 1),
assign_scored AS (
  SELECT a.vec_id, c.cent_id,
         round(sum(a.v * c.v) / (any_value(n.nrm) * any_value(cn.cnrm)), 6) AS sim
  FROM ve a
  JOIN cents c ON a.d = c.d
  JOIN norms n ON n.vec_id = a.vec_id
  JOIN cnorms cn ON cn.cent_id = c.cent_id
  GROUP BY 1, 2
),
ranked_cells AS (
  SELECT vec_id, cent_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id ASC) AS rk
  FROM assign_scored
),
assigned AS (SELECT vec_id, cent_id AS cell FROM ranked_cells WHERE rk = 1),
probes AS (SELECT vec_id, cent_id AS cell FROM ranked_cells
           WHERE rk <= {_HNM_NPROBE} AND vec_id % 9 = 0 AND vec_id < 500),
lab AS (SELECT vec_id, label FROM embeddings),
cand AS (
  SELECT q.vec_id AS a_id, ql.label AS a_label,
         c.vec_id AS cid, cl.label AS c_label
  FROM probes q
  JOIN assigned c ON q.cell = c.cell AND q.vec_id <> c.vec_id
  JOIN lab ql ON ql.vec_id = q.vec_id
  JOIN lab cl ON cl.vec_id = c.vec_id
),
dots AS (
  SELECT cand.a_id, cand.a_label, cand.cid, cand.c_label,
         sum(q.v * c.v) AS dot
  FROM cand JOIN ve q ON q.vec_id = cand.a_id
            JOIN ve c ON c.vec_id = cand.cid AND c.d = q.d
  GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT a_id, a_label, cid, c_label,
         round(dot / (nq.nrm * nc.nrm), 6) AS cos
  FROM dots JOIN norms nq ON nq.vec_id = a_id
            JOIN norms nc ON nc.vec_id = cid
  WHERE nq.nrm > 0 AND nc.nrm > 0
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY a_id, (c_label = a_label)
                               ORDER BY cos DESC, cid) AS rn
  FROM scored
)
SELECT a_id, a_label,
       max(CASE WHEN c_label = a_label AND rn = 1 THEN cid END) AS pos_id,
       max(CASE WHEN c_label = a_label AND rn = 1 THEN cos END) AS pos_cos,
       max(CASE WHEN c_label != a_label AND rn = 1 THEN cid END) AS neg_id,
       max(CASE WHEN c_label != a_label AND rn = 1 THEN cos END) AS neg_cos
FROM r GROUP BY 1, 2
"""


@query("hard_negative_mining_ivf", _HNM_IVF_SQL)
def q_hard_negative_mining_ivf(spark, sf_dir):
    """The documented step-down path of `hard_negative_mining` made
    real: the same fixed anchor panel mined through the IVF index
    (nprobe=2, 16 deterministic centroids) instead of a full corpus
    scan — candidates come from a cell equi-join, so corpus cost per
    anchor is its probed cells' occupancy, not N. This is the form
    that runs when the mining batch is large or the corpus no longer
    fits a per-anchor full scan; mined pairs are approximate exactly
    the way `similarity_ann_ivf`'s neighbors are (recall traded
    against the nprobe knob — measured for this index family in
    SCALE.md's recall-at-scale table).

    Scale shape: centroid assignment is a broadcast join +
    per-vector top-1 (operators/similarity.ivf_assign); the anchor
    panel probes its 2 nearest cells; candidate generation is the
    cell equi-join; the per-(anchor, same-label) winner is the same
    partial-agg max(struct) as the exact form — nothing is ever
    ranked globally and no vector table is materialized to the
    driver. Determinism: the exact contract of the IVF family
    (round-6dp sims, id tie-breaks)."""
    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < _N_CENTROIDS)
    lab = e.select("vec_id", "label")
    # anchor panel probes nprobe nearest cells (ivf_multiprobe idiom)
    c = cents.select(
        F.col("vec_id").alias("_cent_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("_cv"),
    )
    anchors = e.filter(
        (F.col("vec_id") % 9 == 0) & (F.col("vec_id") < 500)
    ).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.transform("embedding", lambda x: x.cast("double")).alias("pv"),
    )
    wq = W.partitionBy("a_id").orderBy(F.desc("_sim"), F.asc("_cent_id"))
    probes = (
        anchors.join(F.broadcast(c))
        .withColumn(
            "_sim",
            F.round(_dot("pv", "_cv") / (_norm("pv") * _norm("_cv")), 6),
        )
        .withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= _HNM_NPROBE)
        .select("a_id", "a_label", "pv", F.col("_cent_id").alias("cell"))
    )
    corpus = ivf_assign(e, cents).select(
        F.col("vec_id"),
        F.col("label"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        "cell",
    )
    s = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("a_id"))
        .filter((_norm("v") > 0) & (_norm("pv") > 0))
        .withColumn(
            "cos", F.round(_dot("pv", "v") / (_norm("pv") * _norm("v")), 6)
        )
        .withColumn("same", F.col("label") == F.col("a_label"))
    )
    best = s.groupBy("a_id", "a_label", "same").agg(
        F.max(
            F.struct(
                F.col("cos").alias("cos"), (-F.col("vec_id")).alias("nv")
            )
        ).alias("b")
    )
    return best.groupBy("a_id", "a_label").agg(
        F.max(F.when(F.col("same"), -F.col("b.nv"))).alias("pos_id"),
        F.max(F.when(F.col("same"), F.col("b.cos"))).alias("pos_cos"),
        F.max(F.when(~F.col("same"), -F.col("b.nv"))).alias("neg_id"),
        F.max(F.when(~F.col("same"), F.col("b.cos"))).alias("neg_cos"),
    )


# ---------------------------------------------------- PQ recall audit
_PQR_K = 5
_PQR_NQ = 10


def _exact_l2_sql() -> str:
    """Exact L2 top-k CTE body (self excluded) over the embeddings
    view — the ground truth both compressed indexes approximate."""
    sqd = (
        "round(list_sum(list_transform(range(1, len(q.v) + 1), "
        "i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))), 6)"
    )
    return f"""
  SELECT qid, vec_id FROM (
    SELECT q.vec_id AS qid, c.vec_id AS vec_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {sqd}, c.vec_id) AS rk
    FROM (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id < {_PQR_NQ}) q
    CROSS JOIN (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings) c
    WHERE q.vec_id != c.vec_id
  ) WHERE rk <= {_PQR_K}
"""


def _pq_recall_oracle_sql() -> str:
    pq = pq_topk_oracle_sql(k=_PQR_K, n_queries=_PQR_NQ)
    ivfpq = ivfpq_topk_oracle_sql(k=_PQR_K, n_queries=_PQR_NQ)
    return f"""
WITH exact AS ({_exact_l2_sql()}),
pq AS ({pq}),
ivfpq AS ({ivfpq}),
hits AS (
  SELECT 'pq' AS method, e.qid,
         count(p.neighbor_id) AS n_hits
  FROM exact e LEFT JOIN pq p
    ON p.qid = e.qid AND p.neighbor_id = e.vec_id
  GROUP BY 1, 2
  UNION ALL
  SELECT 'ivfpq' AS method, e.qid,
         count(p.neighbor_id) AS n_hits
  FROM exact e LEFT JOIN ivfpq p
    ON p.qid = e.qid AND p.neighbor_id = e.vec_id
  GROUP BY 1, 2
)
SELECT method, CAST(qid AS BIGINT) AS qid,
       CAST(n_hits AS BIGINT) AS n_hits,
       round(CAST(n_hits AS DOUBLE) / {_PQR_K}, 6) AS recall
FROM hits
"""


@query("pq_recall_audit", _pq_recall_oracle_sql())
def q_pq_recall_audit(spark, sf_dir):
    """recall@5 of pq_topk and ivfpq_topk vs exact L2 top-5 per query
    (module docstring). The exact side broadcasts the fixed 10-query
    panel against one linear corpus scan; the index sides inherit the
    PQ operators' bounded-state contracts."""
    e = _t(spark, sf_dir, "embeddings")
    ev = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    qs = ev.filter(F.col("vec_id") < _PQR_NQ).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    w = W.partitionBy("qid").orderBy("d", "vec_id")
    exact = (
        ev.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("d", _sqdist("qv", "v"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _PQR_K)
        .select("qid", "vec_id")
    )
    parts = []
    for method, fn in (("pq", pq_topk), ("ivfpq", ivfpq_topk)):
        ann = fn(e, k=_PQR_K, n_queries=_PQR_NQ).select(
            F.col("qid").alias("aqid"), F.col("neighbor_id").alias("acid")
        )
        parts.append(
            exact.join(
                ann,
                (exact.qid == ann.aqid) & (exact.vec_id == ann.acid),
                "left",
            )
            .groupBy("qid")
            .agg(F.count("acid").alias("n_hits"))
            .select(
                F.lit(method).alias("method"),
                F.col("qid").cast("bigint").alias("qid"),
                F.col("n_hits").cast("bigint").alias("n_hits"),
                F.round(F.col("n_hits").cast("double") / _PQR_K, 6).alias(
                    "recall"
                ),
            )
        )
    return parts[0].unionByName(parts[1])


# ------------------------------------------------ PQ rerank top-k
# The production deployment shape the recall audit above motivates
# (SCALE.md round-10: raw ADC collapses on deep clusters; shortlist +
# exact re-rank restores recall once R exceeds the tie-class size).

@query("pq_rerank_topk", pq_rerank_topk_oracle_sql(k=5, shortlist=50, n_queries=10))
def q_pq_rerank_topk(spark, sf_dir):
    """ADC shortlist (R=50) + exact re-rank to top-5 (operator
    docstring: codes prune, floats decide — Jegou et al. 2011 §V)."""
    return pq_rerank_topk(
        _t(spark, sf_dir, "embeddings"), k=5, shortlist=50, n_queries=10
    )


# ------------------------------------------ IVF-PQ multi-probe

@query(
    "ivfpq_multiprobe_topk",
    ivfpq_topk_oracle_sql(k=5, n_queries=10, nprobe=2),
)
def q_ivfpq_multiprobe_topk(spark, sf_dir):
    """IVF-PQ probing the query's top-2 coarse cells (operator
    docstring: multi-probe multiplies only the query-side LUT; the
    clustered recall table shows nprobe=1 dropping whole clusters).
    On the shipped near-isotropic corpus the top-5 happens to match
    nprobe=1 — the oracle pins the multi-probe PLAN's semantics
    (probe ranking, per-cell residual LUT, cross-cell ADC merge), and
    the candidate volume is plan-asserted in tests/test_r10.py."""
    return ivfpq_topk(
        _t(spark, sf_dir, "embeddings"), k=5, n_queries=10, nprobe=2
    )


# ----------------------------------------- IVF-PQ rerank top-k

@query(
    "ivfpq_rerank_topk",
    ivfpq_rerank_topk_oracle_sql(k=5, shortlist=50, n_queries=10, nprobe=2),
)
def q_ivfpq_rerank_topk(spark, sf_dir):
    """Full Faiss deployment stack: IVF-PQ (nprobe=2) shortlist of 50,
    exact L2 re-rank to top-5 (operator docstring)."""
    return ivfpq_rerank_topk(
        _t(spark, sf_dir, "embeddings"), k=5, shortlist=50, n_queries=10,
        nprobe=2,
    )


_PSA_R = 50
_PSA_NQ = 10


@query(
    "pq_shortlist_audit",
    pq_shortlist_audit_oracle_sql(shortlist=_PSA_R, n_queries=_PSA_NQ),
)
def q_pq_shortlist_audit(spark, sf_dir):
    """Per-query ADC cutoff, tie-class mass, and saturation flag for
    the R=50 shortlist the registry's re-rank queries use (operator
    docstring: recall is 1.0 iff R exceeds the tie-class depth; this
    makes an undersized R observable instead of silently wrong)."""
    return pq_shortlist_audit(
        _t(spark, sf_dir, "embeddings"), shortlist=_PSA_R, n_queries=_PSA_NQ
    )


# ------------------------------------ IVF-PQ shortlist audit twin

@query(
    "ivfpq_shortlist_audit",
    ivfpq_shortlist_audit_oracle_sql(
        shortlist=_PSA_R, n_queries=_PSA_NQ, nprobe=2
    ),
)
def q_ivfpq_shortlist_audit(spark, sf_dir):
    """The same saturation guard over the PROBED-cells ADC set the
    registry's ivfpq_rerank_topk (nprobe=2, R=50) draws from."""
    return ivfpq_shortlist_audit(
        _t(spark, sf_dir, "embeddings"),
        shortlist=_PSA_R,
        n_queries=_PSA_NQ,
        nprobe=2,
    )


_AR_K = 5
_AR_FLOOR = 50  # same floor as the fixed-R registry entries
_AR_NQ = 10


@query(
    "pq_rerank_auto",
    pq_rerank_auto_oracle_sql(k=_AR_K, shortlist=_AR_FLOOR, n_queries=_AR_NQ),
)
def q_pq_rerank_auto(spark, sf_dir):
    """PQ shortlist + exact re-rank with tie-class-covering (auto-R)
    admission: rank() over ADC value admits every candidate tied at
    the rank-50 bar, so on clustered corpora the shortlist grows to
    the tie-class depth with no hand-set R (operators/pq.py
    `_auto_r_candidates`; fail-loud past max_auto_r)."""
    return pq_rerank_topk(
        _t(spark, sf_dir, "embeddings"),
        k=_AR_K,
        shortlist=_AR_FLOOR,
        n_queries=_AR_NQ,
        auto_r=True,
    )


@query(
    "ivfpq_rerank_auto",
    ivfpq_rerank_auto_oracle_sql(
        k=_AR_K, shortlist=_AR_FLOOR, n_queries=_AR_NQ, nprobe=2
    ),
)
def q_ivfpq_rerank_auto(spark, sf_dir):
    """The IVF-PQ twin: auto-R admission over the PROBED-cells ADC
    set (nprobe=2), then exact re-rank."""
    return ivfpq_rerank_topk(
        _t(spark, sf_dir, "embeddings"),
        k=_AR_K,
        shortlist=_AR_FLOOR,
        n_queries=_AR_NQ,
        nprobe=2,
        auto_r=True,
    )


# ------------------------------------------------- k-means (iterative)


@query(
    "kmeans_profile",
    f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
c0 AS (SELECT CAST(vec_id AS INT) AS cluster, v AS c FROM v WHERE vec_id < 8),
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
       WHERE rn = 1),
e2 AS (SELECT cluster, {_KM_EXPL} AS u FROM a2),
m2 AS (SELECT cluster, u.idx AS idx, round(avg(u.x), 6) AS x FROM e2 GROUP BY 1, 2),
c2 AS (SELECT cluster, list(x ORDER BY idx) AS c FROM m2 GROUP BY 1),
stats AS (SELECT cluster, count(*) AS n_vecs, round(sum(dist), 4) AS inertia FROM a2 GROUP BY 1)
SELECT s.cluster, s.n_vecs, s.inertia,
       round(list_sum(c2.c), 4) AS centroid_checksum
FROM stats s JOIN c2 USING (cluster)
""",
)
def q_kmeans_profile(spark, sf_dir):
    """K-means (Lloyd, k=8, 2 rounds) over the embeddings table as
    declarative iterative dataflow — broadcast centroid join + argmin
    + per-dimension mean per round, localCheckpoint between rounds
    (operators/kmeans.py). Inertia is measured against the final
    round's INPUT centroids; the checksum covers the final update.
    Oracle: the same two rounds unrolled as CTEs. Determinism: double
    arithmetic, 6dp rounding before every argmin, ties -> lowest
    cluster id on both engines."""
    e = _t(spark, sf_dir, "embeddings")
    return kmeans_cluster_profile(e, k=8, iterations=2)


# ---------------------------------------------- product-quantized ANN

@query("pq_ann_topk", pq_topk_oracle_sql(k=5, n_queries=10))
def q_pq_ann_topk(spark, sf_dir):
    """Product-quantization ANN top-k (extension; the memory-compression
    rung of the similarity ladder — see operators/pq.py for the 100 TB
    contract: KB-sized broadcast codebooks, map-side encode, broadcast
    ADC lookup table, integer-exact cross-subspace sums)."""
    e = _t(spark, sf_dir, "embeddings")
    return pq_topk(e, k=5, n_queries=10)


@query("ivfpq_ann_topk", ivfpq_topk_oracle_sql(k=5, n_queries=10))
def q_ivfpq_ann_topk(spark, sf_dir):
    """IVF-PQ ANN top-k (extension; the Faiss-style production index:
    coarse cells + residual product quantization, nprobe=1 — see
    operators/pq.py:ivfpq_topk for the 100 TB contract)."""
    e = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(e, k=5, n_queries=10)
