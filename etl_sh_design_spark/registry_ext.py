"""Extension-layer query registry: dedup, similarity search, text
analysis, multimodal plumbing, streaming-equivalent windows.

These are NOT reference operators (the reference has none of this —
SURVEY.md §2.8/§2.9); they are the training-data-pipeline layer the
engine adds, registered with the same Spark-vs-DuckDB oracle contract.

Near-dup queries run on a deterministically AUGMENTED corpus
(documents U mutated copies at doc_id + MUTATED_ID_OFFSET) because the
driver's synthetic corpus has no natural duplicates — the augmentation is
expressed identically in Spark and SQL, so results stay
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_sh_design_spark import memo
from etl_sh_design_spark.functions import text
from etl_sh_design_spark.operators import multimodal
from etl_sh_design_spark.operators.dedup import (
    MD5_INT64_SQL,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
    word_shingles_sql,
)
from etl_sh_design_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_bucket_topk,
)
from etl_sh_design_spark.registry import _t, query

# ---------------------------------------------------------------- corpora
_TOKS = "filter(split(lower(text), '\\\\s+'), t -> t != '')"

# Mutated copies take doc_id + MUTATED_ID_OFFSET, so every source
# doc_id must stay below it or a copy would collide with an original.
MUTATED_ID_OFFSET = 1000000

CORPUS_EXACT_SQL = (
    "SELECT doc_id, text FROM documents "
    f"UNION ALL SELECT doc_id + {MUTATED_ID_OFFSET} AS doc_id, text FROM documents"
)

CORPUS_MUTATED_SQL = rf"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {MUTATED_ID_OFFSET} AS doc_id,
       array_to_string(list_slice(toks, 1, len(toks) - 1), ' ') AS text
FROM (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS toks
      FROM documents)
"""


def _repartitioned(spark, df):
    """Spread a small-file scan across all cores. The test corpus is a
    single parquet file (2 input splits); the tokenize/shingle maps
    downstream are CPU-bound, so without this 30 of 32 cores idle. At
    real scale the scan has thousands of splits and this is a no-op
    cost-wise (one extra round-robin shuffle of the raw text)."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _documents(spark, sf_dir):
    """(doc_id, text) of the documents table. A doc_id at or above
    MUTATED_ID_OFFSET fails the query inside the plan (no eager check,
    so construction stays job-free) instead of silently colliding
    with a mutated copy."""
    doc_id = F.col("doc_id")
    too_big = F.raise_error(
        F.concat(
            F.lit("documents.doc_id "),
            doc_id.cast("string"),
            F.lit(f" >= MUTATED_ID_OFFSET ({MUTATED_ID_OFFSET})"),
        )
    )
    return _t(spark, sf_dir, "documents").select(
        F.when(doc_id >= MUTATED_ID_OFFSET, too_big).otherwise(doc_id).alias("doc_id"),
        "text",
    )


def _corpus_exact(spark, sf_dir):
    d = _documents(spark, sf_dir)
    return _repartitioned(
        spark,
        d.unionByName(d.select((F.col("doc_id") + MUTATED_ID_OFFSET).alias("doc_id"), "text")),
    )


def _corpus_mutated(spark, sf_dir):
    d = _documents(spark, sf_dir)
    mut = d.select(
        (F.col("doc_id") + MUTATED_ID_OFFSET).alias("doc_id"),
        F.expr(
            f"array_join(slice({_TOKS}, 1, greatest(size({_TOKS}) - 1, 0)), ' ')"
        ).alias("text"),
    )
    return _repartitioned(spark, d.unionByName(mut))


# ------------------------------------------------------------ exact dedup
@query(
    "dedup_exact",
    f"""
WITH corpus AS ({CORPUS_EXACT_SQL})
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_key,
       min(doc_id) AS canonical_id,
       count(*) AS n_dups
FROM corpus
GROUP BY 1
""",
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup by normalized content hash (hash-groupBy; one
    |groups|-sized shuffle at any scale)."""
    return exact_duplicates(_corpus_exact(spark, sf_dir))


# -------------------------------------------------------- n-gram Jaccard
_SH = word_shingles_sql("corpus")


@query(
    "ngram_jaccard_neardup",
    f"""
WITH corpus AS ({CORPUS_MUTATED_SQL}),
sh0 AS ({_SH}),
sh AS (SELECT doc_id, {MD5_INT64_SQL.format(x='shingle')} AS shingle FROM sh0),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
freq AS (SELECT shingle, count(*) AS freq FROM sh GROUP BY 1),
cold AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle) WHERE freq <= 1000),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM cold a JOIN cold b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
""",
)
def q_ngram_jaccard(spark, sf_dir):
    """Word-3-gram Jaccard near-dup pairs (threshold 0.5) with the
    hot-shingle skew cap."""
    return ngram_jaccard_pairs(_corpus_mutated(spark, sf_dir), threshold=0.5)


# ------------------------------------------------------------- MinHash LSH
_H_SEED_SHINGLE = MD5_INT64_SQL.format(x="CAST(seed AS VARCHAR) || ':' || shingle")


@query(
    "minhash_lsh_neardup",
    f"""
WITH corpus AS ({CORPUS_MUTATED_SQL}),
sh AS ({_SH}),
sig AS (
  SELECT doc_id, seed, min({_H_SEED_SHINGLE}) AS minh
  FROM sh CROSS JOIN (SELECT CAST(range AS INT) AS seed FROM range(0, 16))
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, CAST(floor(seed / 4) AS BIGINT) AS band,
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS band_key
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16.0 AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = id_a
JOIN sig sb ON sb.doc_id = id_b AND sb.seed = sa.seed
GROUP BY 1, 2
HAVING CAST(sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16.0 >= 0.5
""",
)
def q_minhash_lsh(spark, sf_dir):
    """MinHash(16) + LSH(4 bands x 4 rows) near-dup candidates with
    estimated Jaccard >= 0.5. Shares the memoized pair sub-plan with
    the cluster-level queries (dedup_lsh_pairs)."""
    return dedup_lsh_pairs(spark, sf_dir)


# ----------------------------------------------------------------- SimHash
_SIMHASH_SQL_BODY = f"""
tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')) AS token
  FROM corpus
),
th AS (SELECT doc_id, {MD5_INT64_SQL.format(x='token')} AS h FROM tok),
bitsum AS (
  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS tot
  FROM th CROSS JOIN (SELECT CAST(range AS INT) AS b FROM range(0, 32))
  GROUP BY 1, 2
),
sims AS (
  SELECT doc_id, CAST(sum(CASE WHEN tot > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
  FROM bitsum GROUP BY 1
)
"""


@query(
    "simhash_docs",
    f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{_SIMHASH_SQL_BODY}
SELECT doc_id, simhash FROM sims
""",
)
def q_simhash_docs(spark, sf_dir):
    """Per-document 32-bit SimHash fingerprint."""
    return simhash(_t(spark, sf_dir, "documents"), bits=32)


@query(
    "simhash_neardup",
    f"""
WITH corpus AS ({CORPUS_MUTATED_SQL}),
{_SIMHASH_SQL_BODY}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
""",
)
def q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 4 over 32 bits). Spark side
    uses pigeonhole banding (5 bands) so no cross join happens; the
    oracle's brute-force cross join proves the banded result exact."""
    return simhash_pairs(_corpus_mutated(spark, sf_dir), bits=32, max_hamming=4)


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
    from etl_sh_design_spark.operators.similarity import ivf_bucket_topk

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
    from etl_sh_design_spark.operators.similarity import ivf_multiprobe_topk

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
    from etl_sh_design_spark.operators.similarity import cosine_topk, lsh_bucket_topk

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
    from etl_sh_design_spark.operators.similarity import cosine_topk, lsh_multiprobe_topk

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


# ------------------------------------------------------------ text analysis
_DTOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"
_STOP = "['the','a','an','and','or','of','to','in','is','it']"


@query(
    "text_quality",
    f"""
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       round(stop_ratio, 6) AS stop_ratio,
       round(mean_word_len, 6) AS mean_word_len,
       round((least(n_tok / 100.0e0, 1.0e0)
              + greatest(0.0e0, 1.0e0 - 4.0e0 * punct_ratio)
              + least(1.0e0, 4.0e0 * stop_ratio)) / 3.0e0, 6) AS quality
FROM (
  SELECT doc_id,
         len(toks) AS n_tok,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, t -> list_contains({_STOP}, t))) AS DOUBLE) / len(toks)
              ELSE 0.0e0 END AS stop_ratio,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks2, t -> length(t))) AS DOUBLE) / len(toks2)
              ELSE 0.0e0 END AS mean_word_len,
         CASE WHEN length(text) > 0
              THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text)
              ELSE 0.0e0 END AS punct_ratio
  FROM (SELECT doc_id, text, {_DTOKS} AS toks,
               list_filter(string_split_regex(text, '\\s+'), t -> t != '') AS toks2
        FROM documents)
)
""",
)
def q_text_quality(spark, sf_dir):
    """Text-quality battery: token count, stopword ratio, mean word
    length, composite quality score — all JVM-side expressions."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count("text").cast("bigint").alias("n_tokens"),
        F.round(text.stopword_ratio("text"), 6).alias("stop_ratio"),
        F.round(text.mean_word_length("text"), 6).alias("mean_word_len"),
        text.quality_score("text").alias("quality"),
    )


_MARKER_COUNT = (
    "CAST(len(list_filter(toks, t -> list_contains({m}, t))) AS BIGINT)"
)


@query(
    "lang_id_confusion",
    f"""
SELECT actual_lang, pred_lang, count(*) AS n
FROM (
  SELECT lang AS actual_lang,
         CASE WHEN best = 0 THEN 'und'
              WHEN c_en = best THEN 'en'
              WHEN c_de = best THEN 'de'
              WHEN c_fr = best THEN 'fr'
              WHEN c_es = best THEN 'es'
         END AS pred_lang
  FROM (
    SELECT lang, c_en, c_de, c_fr, c_es, greatest(c_en, c_de, c_fr, c_es) AS best
    FROM (
      SELECT lang,
             {_MARKER_COUNT.format(m="['the','and','is','a','of']")} AS c_en,
             {_MARKER_COUNT.format(m="['der','und','ist','das','ein']")} AS c_de,
             {_MARKER_COUNT.format(m="['le','et','est','la','un']")} AS c_fr,
             {_MARKER_COUNT.format(m="['el','y','es','la','un']")} AS c_es
      FROM (SELECT lang, {_DTOKS} AS toks FROM documents)
    )
  )
)
GROUP BY 1, 2
""",
)
def q_lang_id(spark, sf_dir):
    """Language-ID heuristic vs the labeled lang column (confusion
    counts)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.col("lang").alias("actual_lang"), text.lang_id("text").alias("pred_lang"))
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "token_stats_by_source",
    f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len({_DTOKS})) AS BIGINT) AS total_tokens,
       round(avg(CAST(len({_DTOKS}) AS DOUBLE)), 6) AS mean_tokens
FROM documents
GROUP BY source
""",
)
def q_token_stats(spark, sf_dir):
    """Token counting rolled up by source."""
    d = _t(spark, sf_dir, "documents")
    n = text.token_count("text")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n).cast("bigint").alias("total_tokens"),
        F.round(F.avg(n.cast("double")), 6).alias("mean_tokens"),
    )


@query(
    "fingerprint_docs",
    """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_key,
       n_chars
FROM documents
""",
)
def q_fingerprint(spark, sf_dir):
    """Stable per-doc content fingerprint (md5 of normalized text)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.content_hash("text").alias("content_key"), "n_chars")


# ------------------------------------------------------------- multimodal
@query(
    "multimodal_features",
    """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS byte_len,
       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
       md5(substr(text, 1, 16)) AS head_md5
FROM documents
""",
)
def q_multimodal_features(spark, sf_dir):
    """Binary-column plumbing: text bytes stand in for a media payload;
    features extracted via Arrow-batched mapInPandas. The oracle
    recomputes the same features from the text (ASCII corpus)."""
    d = _t(spark, sf_dir, "documents")
    return multimodal.extract_features(multimodal.to_binary_table(d))


@query(
    "multimodal_frame_sample",
    """
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       CAST(length(substr(text, i * 64 + 1, 64)) AS BIGINT) AS frame_bytes,
       md5(substr(text, i * 64 + 1, 64)) AS frame_md5
FROM (
  SELECT doc_id, text,
         unnest(range(0, greatest(1, CAST(ceil(length(text) / 64.0) AS INT)), 4)) AS i
  FROM documents
)
""",
)
def q_frame_sample(spark, sf_dir):
    """Video-shaped frame sampling: payload split into 64-byte frames,
    every 4th kept, one output row per frame (UDTF-shaped mapInPandas).
    Oracle recomputes the frames with substr on the ASCII source."""
    d = _t(spark, sf_dir, "documents")
    return multimodal.frame_sample(multimodal.to_binary_table(d))


_BPE_TOKS = (
    r"list_filter(string_split_regex(regexp_replace(text || ' a.b!', "
    r"'([^\w\s])', ' \1 ', 'g'), '\s+'), t -> t != '')"
)


@query(
    "bpe_token_counts",
    f"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text || ' a.b!', '\\s+'), t -> t != '')) AS BIGINT) AS n_ws_tokens,
       CAST(len({_BPE_TOKS}) AS BIGINT) AS n_bpe_tokens
FROM documents
""",
)
def q_bpe_tokens(spark, sf_dir):
    """Token counting two ways: whitespace vs BPE-ish regex (symbols
    split into their own tokens); a punctuation suffix is appended so
    the paths measurably differ on this clean corpus."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit(" a.b!"))
    )
    return d.select(
        "doc_id",
        text.token_count("text").cast("bigint").alias("n_ws_tokens"),
        F.size(text.word_tokens("text")).cast("bigint").alias("n_bpe_tokens"),
    )


@query(
    "multimodal_decode_stub",
    """
SELECT doc_id,
       greatest(1, octet_length(encode(text)) % 640) AS width,
       greatest(1, (octet_length(encode(text)) * 7) % 480) AS height,
       3 AS n_channels,
       CAST(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) % 25600 AS DOUBLE)
         / 100.0e0 AS mean_px
FROM documents
""",
)
def q_multimodal_decode(spark, sf_dir):
    """Stubbed media decode (deterministic fake) — exercises the
    decode-pipeline schema/batching via mapInPandas; real decode raises
    NotImplementedError without PIL. Every fake stat is a pure function
    of the payload bytes, so the DuckDB oracle reproduces it exactly
    (DuckDB md5(VARCHAR) hashes the same UTF-8 bytes Spark's
    md5(BINARY) sees)."""
    d = _t(spark, sf_dir, "documents")
    out = multimodal.decode_image(multimodal.to_binary_table(d), fake=True)
    return out.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("n_channels").cast("int").alias("n_channels"),
        "mean_px",
    )


# ----------------------------------------------- streaming-equivalent agg
@query(
    "tumbling_window_events",
    """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
       event_type,
       count(*) AS n,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def q_tumbling(spark, sf_dir):
    """Tumbling 1-hour windowed aggregation over events — the batch
    twin of the Structured Streaming pipeline in
    `etl_sh_design_spark.streaming` (§2.9 extension, labeled as such)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# ------------------------------------------------- duplicate clusters
# The expensive sub-plans (MinHash signatures -> LSH pairs, and pairs
# -> connected components) are shared by minhash_lsh_neardup,
# dedup_clusters, dedup_keep_best, and dedup_size_histogram: both
# intermediate DataFrames are session-memoized per sf_dir (the memo
# module's "dedup" family) so later queries reuse the materialized
# result instead of recomputing the pipeline. connected_components is
# eager (it counts/collects internally), so the cached frames'
# remaining lineage is only the cheap tail.
def dedup_signatures(spark, sf_dir):
    """MinHash signatures (doc_id, sig[16]) over the mutated corpus —
    memoized, so the whole dedup + sketch-eval family pays ONE
    signature pass per session.

    Round 12: built with the MAP-SIDE form (zero-shuffle projection;
    bit-identical to the wide form — min over per-occurrence hashes ==
    min over the distinct vocabulary, asserted by
    tests/test_streaming_dedup.test_mapside_signatures_equal_wide).
    The wide form's distinct-vocabulary Exchange + size-dispatched
    hash-join-back + driver-side vocab count all disappear; the only
    exchange left in the family build is the banded pair join.
    Interleaved A/B minima (full components build): sf0.1 4.24 ->
    3.49 s, 10x corpus 13.9 -> 12.8 s; at 100 TB the signature pass
    becomes scan-bound instead of carrying a corpus-sized
    vocabulary shuffle (the wide form's vocab broadcast was the piece
    that aborted at the --ngram-100x probe and needed the
    shuffle-hash dispatch)."""
    return memo.get(
        spark, "dedup", ("sigs", sf_dir), lambda: _dedup_signatures_build(spark, sf_dir)
    )


def _dedup_signatures_build(spark, sf_dir):
    from etl_sh_design_spark.operators.dedup import minhash_signatures_mapside

    # Round 13 (guide §2.4 across queries): the signature map is
    # PER-ROW, so sig(docs UNION mutated) == sig(docs) UNION
    # sig(mutated) exactly, and the plain-documents rows are exactly
    # the fused table's doc_id < MUTATED_ID_OFFSET half. The family
    # build signs the fused corpus ONCE (one codegen pass for the 16-seed
    # projection — an A/B of signing the two halves separately
    # measured the build ~1.1 s SLOWER from the doubled
    # construction/codegen) and registers the documents half as a
    # filter over the SAME checkpoint, which the two incremental
    # pipelines then probe as their "stored LSH index". Row sets are
    # bit-identical; only WHO pays what changes — the timed
    # dedup_family_shared_subplan entry owns the fused build, exactly
    # as before, and the incrementals' docs side becomes a checkpoint
    # read.
    sigs = minhash_signatures_mapside(
        _corpus_mutated(spark, sf_dir), k=16, n=3
    ).localCheckpoint(eager=False)
    memo.get(
        spark,
        "dedup",
        ("docs_sigs", sf_dir),
        lambda: sigs.filter(F.col("doc_id") < MUTATED_ID_OFFSET),
    )
    return sigs


def docs_signatures(spark, sf_dir):
    """Map-side MinHash signatures (doc_id, sig[16]) over the PLAIN
    documents corpus — memoized per (session, sf_dir).

    Round 13: this is the "stored LSH index" both incremental
    pipelines' docstrings already promise ("at 100 TB the existing
    side's banded signature index is a stored table ... per batch you
    only sign the incoming docs"). Signing is a per-row map, so the
    documents half of every sig(documents UNION delta) plan factors
    out exactly. When the dedup family build has already signed the
    fused mutated corpus this session, the docs half IS that
    checkpoint filtered to doc_id < MUTATED_ID_OFFSET (registered by
    dedup_signatures above — the bench's family entry runs first and
    owns the build); standalone consumers (the oracle runs each query
    alone) build the docs-only table here instead."""
    from etl_sh_design_spark.operators.dedup import minhash_signatures_mapside

    return memo.get(
        spark,
        "dedup",
        ("docs_sigs", sf_dir),
        lambda: minhash_signatures_mapside(
            _repartitioned(spark, _documents(spark, sf_dir)), k=16, n=3
        ).localCheckpoint(eager=False),
    )


def dedup_lsh_pairs(spark, sf_dir):
    """(id_a, id_b, est_jaccard) MinHash-LSH pairs over the mutated
    corpus — memoized."""
    return memo.get(
        spark,
        "dedup",
        ("pairs", sf_dir),
        lambda: minhash_lsh_pairs(
            _corpus_mutated(spark, sf_dir), sig=dedup_signatures(spark, sf_dir)
        ).localCheckpoint(eager=False),
    )


def dedup_components(spark, sf_dir):
    """(node, component) for the mutated corpus — memoized."""
    from etl_sh_design_spark.operators.graph import connected_components

    def build():
        pairs = dedup_lsh_pairs(spark, sf_dir)
        return connected_components(
            _corpus_mutated(spark, sf_dir).select(F.col("doc_id").alias("node")),
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        ).localCheckpoint(eager=False)

    return memo.get(spark, "dedup", ("components", sf_dir), build)


# shared recursive-CTE closure (corpus -> MinHash sigs -> LSH candidates
# -> threshold pairs -> transitive closure -> per-doc component) used by
# every cluster-level oracle below
_DEDUP_CLOSURE_CTE = f"""
WITH RECURSIVE corpus AS ({CORPUS_MUTATED_SQL}),
sh AS ({_SH}),
sig AS (
  SELECT doc_id, seed, min({_H_SEED_SHINGLE}) AS minh
  FROM sh CROSS JOIN (SELECT CAST(range AS INT) AS seed FROM range(0, 16))
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, CAST(floor(seed / 4) AS BIGINT) AS band,
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS band_key
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
pairs AS (
  SELECT id_a, id_b
  FROM cand
  JOIN sig sa ON sa.doc_id = id_a
  JOIN sig sb ON sb.doc_id = id_b AND sb.seed = sa.seed
  GROUP BY 1, 2
  HAVING CAST(sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16.0 >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT c.doc_id,
         least(c.doc_id, coalesce(min(r.dst), c.doc_id)) AS component
  FROM corpus c LEFT JOIN reach r ON r.src = c.doc_id
  GROUP BY c.doc_id
)
"""


@query(
    "dedup_clusters",
    _DEDUP_CLOSURE_CTE
    + """
SELECT component AS canonical_id, count(*) AS n_docs
FROM comp GROUP BY 1
""",
)
def q_dedup_clusters(spark, sf_dir):
    """Duplicate-CLUSTER resolution: MinHash-LSH near-dup pairs closed
    into connected components (iterative min-label propagation,
    operators/graph.py), one row per cluster with its canonical
    (min) doc_id — the step that turns pairwise near-dup output into
    a keep/drop decision. Oracle: recursive-CTE transitive closure."""
    comp = dedup_components(spark, sf_dir)
    return comp.groupBy(F.col("component").alias("canonical_id")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "dedup_size_histogram",
    _DEDUP_CLOSURE_CTE
    + """
, clusters AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT cluster_size, count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM clusters GROUP BY 1
""",
)
def q_dedup_size_histogram(spark, sf_dir):
    """Dedup audit report: the duplicate-cluster SIZE distribution —
    how many singletons, pairs, triples... and how many raw docs each
    size class holds (effective unique count = sum of n_clusters).
    Third consumer of the memoized components sub-plan
    (dedup_components): two |clusters|-sized aggregations on top, all
    integer-exact (no float sums, nothing to knife-edge)."""
    comp = dedup_components(spark, sf_dir)
    clusters = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return clusters.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
    )
