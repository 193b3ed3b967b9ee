"""Training-data-pipeline registry, round 2: sequence packing, data
layout (Z-order), PII redaction, within-document repetition, corpus
n-gram statistics, incremental (snapshot) dedup, quality filter chain,
and the event-funnel interval join.

These are extension-layer operators (not in the reference — SURVEY.md
§2.8 note): the ops a 100 TB pretraining-data pipeline runs between
raw crawl and tokenized shards. Every query pairs a Spark pipeline
with a DuckDB oracle; injected fixtures (PII strings, repetition,
snapshot overlap) are expressed identically on both sides because the
driver's synthetic corpus is clean.

Scale notes live on each docstring; common shape: scan -> codegen
transform -> ONE keyed shuffle. The only pandas island is the greedy
packer (`operators/packing.py`), whose per-task state is one counter.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark.functions import text
from etl_sh_design_spark.operators.dedup import MD5_INT64_SQL, md5_int64, word_shingles_sql
from etl_sh_design_spark.operators.kmeans import _KM_DIST, _KM_EXPL
from etl_sh_design_spark.operators.packing import greedy_pack, pack_oracle_sql
from etl_sh_design_spark.registry import _t, query
from etl_sh_design_spark.registry_ext import _H_SEED_SHINGLE, _repartitioned

_TOKS = "filter(split(text, '\\\\s+'), t -> t != '')"
_TOKS_DUCK = r"list_filter(string_split_regex(text, '\s+'), t -> t != '')"


# ---------------------------------------------------- sequence packing
_PACK_BUDGET = 512
_PACK_SHARDS = 32

_TOKENS_CTE = f"SELECT doc_id, len({_TOKS_DUCK}) AS n_tokens FROM documents"


@query(
    "sequence_packing",
    pack_oracle_sql(_TOKENS_CTE, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS)
    + """
SELECT shard, chunk_id, n_docs, sum_tokens
FROM chunks
""",
)
def q_sequence_packing(spark, sf_dir):
    """LLM sequence packing: greedy-fill documents into 512-token
    chunks within 32 hash shards (stateful scan, applyInPandas; see
    operators/packing.py for the 100 TB contract — shards are the
    parallelism unit, tokenization stays JVM-side)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.size(F.expr(_TOKS)).cast("bigint").alias("n_tokens"))
    return greedy_pack(toks, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS)


# ------------------------------------------------------ Z-order layout
_Z_SPARK = (
    "aggregate(sequence(0, 7), 0L, (acc, i) -> acc"
    " + shiftleft(shiftright(ix, i) & 1L, 2 * i)"
    " + shiftleft(shiftright(iy, i) & 1L, 2 * i + 1))"
)
_Z_DUCK = (
    "CAST(list_sum(list_transform(range(0, 8), i ->"
    " ((ix >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))"
    " + ((iy >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1)))) AS BIGINT)"
)


@query(
    "zorder_layout",
    f"""
WITH k AS (
  SELECT user_id AS ix, event_id % 256 AS iy, value FROM events
),
z AS (SELECT {_Z_DUCK} AS zval, value FROM k)
SELECT zval // 64 AS z_tile, count(*) AS n,
       CAST(min(zval) AS BIGINT) AS z_min, CAST(max(zval) AS BIGINT) AS z_max,
       round(sum(value), 6) AS sum_value
FROM z GROUP BY 1
""",
)
def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering key over two dimensions, the
    multi-dimensional data-layout primitive: interleaving 8 bits of
    each key gives a 1-D sort order under which a range predicate on
    EITHER dimension touches O(sqrt) of the tiles — at 100 TB you
    `repartitionByRange(zval)` + sortWithinPartitions before the
    parquet write so min/max footer stats prune on both columns. The
    bit-interleave runs entirely in codegen (aggregate over
    sequence(0,7), shift/mask — no UDF). Emits per-64-key-tile
    occupancy as the checkable surface."""
    e = _t(spark, sf_dir, "events")
    k = e.select(
        F.col("user_id").alias("ix"),
        (F.col("event_id") % 256).alias("iy"),
        "value",
    )
    z = k.select(F.expr(_Z_SPARK).alias("zval"), "value")
    return (
        z.groupBy((F.col("zval") / 64).cast("bigint").alias("z_tile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zval").alias("z_min"),
            F.max("zval").alias("z_max"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


# ------------------------------------------------------- PII redaction
_EMAIL_RE = "[a-z0-9_]+@[a-z]+\\.com"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"

_PII_TEXT_DUCK = """
SELECT doc_id, source,
       text
       || CASE WHEN doc_id % 3 = 0
               THEN ' contact user_' || CAST(doc_id AS VARCHAR) || '@example.com now'
               ELSE '' END
       || CASE WHEN doc_id % 5 = 0
               THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE '' END AS text
FROM documents
"""


@query(
    "pii_redaction",
    f"""
WITH pii AS ({_PII_TEXT_DUCK}),
red AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
         regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
  FROM pii
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_emails) AS BIGINT) AS n_emails,
       CAST(sum(n_phones) AS BIGINT) AS n_phones,
       CAST(sum({MD5_INT64_SQL.format(x='redacted')} % 1000000007) AS BIGINT)
         AS redacted_checksum
FROM red GROUP BY 1
""",
)
def q_pii_redaction(spark, sf_dir):
    """PII scrubbing: detect + redact email/phone patterns, report
    per-source counts and an exact checksum of the redacted text (sum
    of 60-bit md5 ints — proves the rewrite is byte-identical across
    engines, not just counted). PII strings are injected
    deterministically because the synthetic corpus is clean. Pure
    regexp codegen — narrow map + one groupBy; at 100 TB this runs at
    scan speed, the usual bottleneck is regex complexity per MB, so
    patterns stay RE2-simple (no backtracking blowups)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    pii = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user_"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
        ),
    )
    red = pii.select(
        "source",
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("redacted"),
    )
    return red.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_emails").cast("bigint").alias("n_emails"),
        F.sum("n_phones").cast("bigint").alias("n_phones"),
        # per-term mod keeps the running sum far from int64 overflow
        # (each term < 1e9; ~9e9 docs before the sum could wrap)
        F.sum(md5_int64(F.col("redacted")) % 1000000007)
        .cast("bigint")
        .alias("redacted_checksum"),
    )


# ----------------------------------------------- within-doc repetition
_REP_N = 8  # tokens per non-overlapping passage

_REP_TEXT_DUCK = f"""
SELECT doc_id, source,
       CASE WHEN doc_id % 4 = 0
            THEN text || ' ' || array_to_string({_TOKS_DUCK}[1:16], ' ')
            ELSE text END AS text
FROM documents
"""


@query(
    "doc_repetition",
    f"""
WITH rep AS ({_REP_TEXT_DUCK}),
t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM rep),
p AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(floor(len(toks) / {_REP_N}) AS INT)),
                i -> array_to_string(toks[i * {_REP_N} + 1 : i * {_REP_N} + {_REP_N}], ' '))) AS passage
  FROM t WHERE len(toks) >= {_REP_N}
),
ratio AS (
  SELECT doc_id,
         1.0e0 - CAST(count(DISTINCT passage) AS DOUBLE) / count(*) AS rep_ratio
  FROM p GROUP BY 1
)
SELECT CAST(least(9, floor(rep_ratio * 10)) AS INT) AS rep_bucket,
       count(*) AS n_docs,
       round(avg(rep_ratio), 6) AS avg_rep_ratio
FROM ratio GROUP BY 1
""",
)
def q_doc_repetition(spark, sf_dir):
    """Within-document repetition score (Gopher/Dolma-style quality
    rule): fraction of duplicated 8-token passages inside each doc,
    bucketed into a decile histogram. Repetition is injected for
    doc_id % 4 == 0 (append the doc's own first 16 tokens). All
    map-side until the per-doc distinct count — the groupBy key is
    doc_id, so the shuffle is |docs|-sized regardless of text bytes;
    at 100 TB the passage explode never leaves the map task."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    rep = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.col("text"), F.lit(" "), F.array_join(F.slice(F.expr(_TOKS), 1, 16), " ")
            ),
        ).otherwise(F.col("text")),
    )
    toks = rep.select("doc_id", F.expr(_TOKS).alias("toks")).filter(
        F.size("toks") >= _REP_N
    )
    passages = (
        f"transform(sequence(0, cast(floor(size(toks) / {_REP_N}) as int) - 1), "
        f"i -> concat_ws(' ', slice(toks, i * {_REP_N} + 1, {_REP_N})))"
    )
    p = toks.select("doc_id", F.explode(F.expr(passages)).alias("passage"))
    ratio = p.groupBy("doc_id").agg(
        (
            F.lit(1.0)
            - F.countDistinct("passage").cast("double") / F.count(F.lit(1))
        ).alias("rep_ratio")
    )
    return (
        ratio.groupBy(
            F.least(F.lit(9), F.floor(F.col("rep_ratio") * 10)).cast("int").alias("rep_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("rep_ratio"), 6).alias("avg_rep_ratio"),
        )
    )


# ------------------------------------------------- corpus n-gram stats
@query(
    "top_bigrams",
    f"""
WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
b AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t WHERE len(toks) >= 2
),
c AS (SELECT bigram, count(*) AS n FROM b GROUP BY 1)
SELECT bigram, n, CAST(rk AS INT) AS rk
FROM (SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram ASC) AS rk FROM c)
WHERE rk <= 50
""",
)
def q_top_bigrams(spark, sf_dir):
    """Corpus bigram statistics, top-50 (the n-gram LM / contamination
    -check primitive). Explode stays map-side; the groupBy shuffle
    carries one row per DISTINCT bigram (partial aggregation), and the
    global top-k is sort().limit(50) — Catalyst's TakeOrderedAndProject,
    a per-partition heap top-k merged on the driver, NOT a global sort.
    The rank window then runs over the 50 surviving rows only (a
    row_number over every distinct bigram would be a single-partition
    sort of the whole vocabulary — the 100 TB killer). Hot-key skew on
    stop-bigrams is absorbed by partial agg (map-side combine bounds
    any single key's shuffle rows by #map-tasks, not #occurrences)."""
    d = _t(spark, sf_dir, "documents")
    d = _repartitioned(spark, d.select("doc_id", "text"))
    toks = d.select(F.expr(_TOKS).alias("toks")).filter(F.size("toks") >= 2)
    bigrams = "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"
    b = toks.select(F.explode(F.expr(bigrams)).alias("bigram"))
    c = b.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    # rank WITHOUT WindowExec: on the 50-row top-k, rk = |rows sorting
    # at-or-before me| via a broadcast theta-join (O(50^2), bounded by
    # construction) — no single-partition window anywhere in the plan.
    top = c.orderBy(F.col("n").desc(), F.col("bigram").asc()).limit(50).localCheckpoint(eager=False)
    t2 = top.select(F.col("n").alias("n2"), F.col("bigram").alias("bigram2"))
    at_or_before = (F.col("n2") > F.col("n")) | (
        (F.col("n2") == F.col("n")) & (F.col("bigram2") <= F.col("bigram"))
    )
    return (
        top.join(F.broadcast(t2), at_or_before)
        .groupBy("bigram", "n")
        .agg(F.count(F.lit(1)).cast("int").alias("rk"))
        .select("bigram", "n", "rk")
    )


# ------------------------------------------- incremental snapshot dedup
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_INCOMING_DUCK = f"""
SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id + 2000000 AS doc_id,
       array_to_string(({_TOKS_DUCK})[1 : len({_TOKS_DUCK}) - 1], ' ') AS text
FROM documents WHERE doc_id % 3 = 0
"""


@query(
    "incremental_dedup",
    f"""
WITH existing AS (SELECT DISTINCT md5({_NORM}) AS content_key FROM documents),
incoming AS ({_INCOMING_DUCK}),
keyed AS (
  SELECT doc_id, md5({_NORM}) AS content_key FROM incoming
),
labeled AS (
  SELECT k.doc_id,
         CASE WHEN e.content_key IS NOT NULL THEN 'dup_of_existing'
              WHEN k.doc_id > min(k.doc_id) OVER (PARTITION BY k.content_key)
                   THEN 'dup_within_batch'
              ELSE 'new' END AS status
  FROM keyed k LEFT JOIN existing e USING (content_key)
)
SELECT status, count(*) AS n_docs FROM labeled GROUP BY 1
""",
)
def q_incremental_dedup(spark, sf_dir):
    """Incremental (snapshot) dedup — the production shape: a new
    crawl batch is deduped against the EXISTING corpus (anti-join on
    content hash) and within itself (min-id per key), without ever
    re-scanning existing text: only the key column of the existing
    side is read (column pruning) and at 100 TB that side lives as a
    bucketed key table so the join is shuffle-free on re-runs. Batch
    fixture: even doc_ids re-arrive verbatim (dup_of_existing), every
    third doc arrives with its last token dropped (genuinely new)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    existing = d.select(text.content_hash("text").alias("content_key")).distinct()
    incoming = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            d.filter(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.expr(
                    f"array_join(slice({_TOKS}, 1, greatest(size({_TOKS}) - 1, 0)), ' ')"
                ).alias("text"),
            )
        )
    )
    keyed = incoming.select("doc_id", text.content_hash("text").alias("content_key"))
    first_id = F.min("doc_id").over(W.partitionBy("content_key"))
    labeled = (
        keyed.join(
            F.broadcast(existing.withColumn("_hit", F.lit(1))), "content_key", "left"
        )
        .withColumn(
            "status",
            F.when(F.col("_hit").isNotNull(), "dup_of_existing")
            .when(F.col("doc_id") > first_id, "dup_within_batch")
            .otherwise("new"),
        )
    )
    return labeled.groupBy("status").agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------- quality filter chain
@query(
    "quality_filter_chain",
    """
WITH r AS (
  SELECT CASE WHEN concat_ws(',',
              CASE WHEN n_chars < 150 THEN 'too_short' END,
              CASE WHEN n_chars > 450 THEN 'too_long' END,
              CASE WHEN lang <> 'en' THEN 'non_english' END) = ''
         THEN 'kept'
         ELSE concat_ws(',',
              CASE WHEN n_chars < 150 THEN 'too_short' END,
              CASE WHEN n_chars > 450 THEN 'too_long' END,
              CASE WHEN lang <> 'en' THEN 'non_english' END) END AS verdict
  FROM documents
)
SELECT verdict, count(*) AS n_docs FROM r GROUP BY 1
""",
)
def q_quality_filter_chain(spark, sf_dir):
    """Quality filter chain with per-rule attribution: every document
    gets the comma-joined list of rules it fails ('kept' if none) —
    the audit trail a curation pipeline needs to tune thresholds.
    Rules evaluate independently in one codegen projection (no
    cascading passes over the text); the aggregate key space is the
    powerset of rules (tiny), so the shuffle is constant-sized at any
    corpus scale."""
    d = _t(spark, sf_dir, "documents")
    reasons = F.concat_ws(
        ",",
        F.when(F.col("n_chars") < 150, "too_short"),
        F.when(F.col("n_chars") > 450, "too_long"),
        F.when(F.col("lang") != "en", "non_english"),
    )
    verdict = F.when(reasons == "", "kept").otherwise(reasons).alias("verdict")
    return d.select(verdict).groupBy("verdict").agg(F.count(F.lit(1)).alias("n_docs"))


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
    from etl_sh_design_spark.operators.kmeans import kmeans_cluster_profile

    e = _t(spark, sf_dir, "embeddings")
    return kmeans_cluster_profile(e, k=8, iterations=2)


# -------------------------------------------- event-funnel interval join
_FUNNEL_US = 600_000_000  # 10 minutes


@query(
    "funnel_interval_join",
    f"""
WITH c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase')
SELECT c.user_id,
       count(*) AS n_pairs,
       CAST(min(p.p_us - c.c_us) AS BIGINT) AS min_delay_us,
       CAST(max(p.p_us - c.c_us) AS BIGINT) AS max_delay_us
FROM c JOIN p ON p.user_id = c.user_id
             AND p.p_us > c.c_us AND p.p_us <= c.c_us + {_FUNNEL_US}
GROUP BY 1
""",
)
def q_funnel_interval_join(spark, sf_dir):
    """Event-funnel interval join: click -> purchase by the same user
    within 10 minutes (the batch twin of the stream-stream interval
    join in tests/test_streaming_join.py). Equi-key on user_id with a
    time-range residual: Spark executes it as a hash/sort-merge join
    on user_id with the range as a post-filter — at 100 TB both sides
    are bucketed by user_id so the join is co-located, and the range
    bound keeps streaming state finite in the streaming twin."""
    e = _t(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("c_us")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.unix_micros("ts").alias("p_us")
    )
    joined = c.join(
        p,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_us") > F.col("c_us"))
        & (F.col("p_us") <= F.col("c_us") + _FUNNEL_US),
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.col("p_us") - F.col("c_us")).alias("min_delay_us"),
        F.max(F.col("p_us") - F.col("c_us")).alias("max_delay_us"),
    )


# ------------------------------------------------------- UDTF surface
_CHUNK_N = 32


@query(
    "udtf_chunk_stats",
    f"""
WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
c AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(ceil(len(toks) / {_CHUNK_N}.0) AS INT)),
                i -> {{'chunk_pos': i,
                       'n_tokens': len(toks[i * {_CHUNK_N} + 1 : i * {_CHUNK_N} + {_CHUNK_N}])}})) AS u
  FROM t WHERE len(toks) > 0
)
SELECT u.chunk_pos AS chunk_pos,
       count(*) AS n_chunks,
       CAST(sum(u.n_tokens) AS BIGINT) AS sum_tokens,
       CAST(min(u.n_tokens) AS INT) AS min_tokens
FROM c GROUP BY 1
""",
)
def q_udtf_chunk_stats(spark, sf_dir):
    """Python UDTF (U5, operators/udtf_ops.py) driven through SQL
    LATERAL: chunk every document into 32-token pieces, aggregate per
    chunk ordinal. Row-at-a-time Python — deliberately the slow-path
    twin of the codegen passage splitter; see the module docstring for
    when each is right. Oracle reproduces the chunking with list
    slicing."""
    from etl_sh_design_spark.operators.udtf_ops import register

    register(spark)
    d = _t(spark, sf_dir, "documents")
    _repartitioned(spark, d.select("doc_id", "text")).createOrReplaceTempView("docs_udtf")
    return spark.sql(
        f"""
        SELECT chunk_pos, count(*) AS n_chunks,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(min(n_tokens) AS INT) AS min_tokens
        FROM docs_udtf, LATERAL chunk_tokens(text, {_CHUNK_N})
        GROUP BY 1
        """
    )


# ------------------------------------------------------- salted join
@query(
    "salted_join_events",
    """
WITH dim AS (
  SELECT DISTINCT user_id, user_id % 10 AS category FROM events
)
SELECT category, count(*) AS n, round(sum(value), 6) AS sum_value
FROM events e JOIN dim USING (user_id)
GROUP BY 1
""",
)
def q_salted_join_events(spark, sf_dir):
    """Skew-proof salted equi-join (operators/skew.py:salted_join):
    the user dimension is replicated n_salts times and each event's
    salt comes from hashing its row id, so a hot user's rows spread
    over n_salts reducers. The oracle is the PLAIN join — salting must
    not change semantics, only the shuffle layout. Pick this over AQE
    skew-join when the dim is too big to broadcast and a single key
    dominates a shuffled-hash join."""
    from etl_sh_design_spark.operators.skew import salted_join

    e = _t(spark, sf_dir, "events")
    dim = e.select("user_id").distinct().withColumn("category", F.col("user_id") % 10)
    joined = salted_join(e.select("event_id", "user_id", "value"), dim, "user_id", "event_id")
    return joined.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )


# --------------------------------------------- resample + LOCF gap fill
_STEP_US = 21_600_000_000  # 6 hours


@query(
    "resample_locf_events",
    f"""
WITH s AS (
  SELECT user_id, epoch_us(ts) // {_STEP_US} AS step,
         round(avg(value), 6) AS v
  FROM events GROUP BY 1, 2
),
b AS (SELECT user_id, min(step) AS s0, max(step) AS s1 FROM s GROUP BY 1),
g AS (SELECT user_id, unnest(range(s0, s1 + 1)) AS step FROM b),
j AS (
  SELECT g.user_id, g.step, s.v
  FROM g LEFT JOIN s ON s.user_id = g.user_id AND s.step = g.step
)
SELECT user_id, CAST(step * {_STEP_US} AS BIGINT) AS step_us,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY step
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       v IS NOT NULL AS is_observed
FROM j
""",
)
def q_resample_locf(spark, sf_dir):
    """Time-series resampling to a regular 6-hour grid with
    last-observation-carried-forward gap fill (the feature-pipeline
    staple for joining irregular events onto a training grid). The
    per-user grid comes from `sequence()` + explode (map-side, no
    driver loop); LOCF is one `last(ignorenulls)` running window — a
    single shuffle on user_id covers bucketing, grid join, and fill.
    At 100 TB the grid is |users| x |steps| rows, generated ON the
    user's partition, never materialized centrally."""
    e = _t(spark, sf_dir, "events")
    s = (
        e.select("user_id", (F.unix_micros("ts") / _STEP_US).cast("bigint").alias("step"), "value")
        .groupBy("user_id", "step")
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    b = s.groupBy("user_id").agg(F.min("step").alias("s0"), F.max("step").alias("s1"))
    g = b.select("user_id", F.explode(F.sequence("s0", "s1")).alias("step"))
    j = g.join(s, ["user_id", "step"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("step")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "user_id",
        (F.col("step") * _STEP_US).cast("bigint").alias("step_us"),
        F.last("v", ignorenulls=True).over(w).alias("value_filled"),
        F.col("v").isNotNull().alias("is_observed"),
    )


# --------------------------------------------------- dataset splitting
@query(
    "dataset_split",
    f"""
WITH s AS (
  SELECT source,
         CASE WHEN {MD5_INT64_SQL.format(x="'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 90
              THEN 'train'
              WHEN {MD5_INT64_SQL.format(x="'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 95
              THEN 'val' ELSE 'test' END AS split
  FROM documents
)
SELECT source, split, count(*) AS n_docs
FROM s GROUP BY 1, 2
""",
)
def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment (90/5/5) by hashing a
    salted doc id — stable across runs and engines, no random source,
    no shuffle beyond the count (the assignment itself is a map). The
    property that matters at 100 TB: membership is a pure function of
    the id, so splits stay consistent when the corpus is re-processed
    incrementally."""
    d = _t(spark, sf_dir, "documents")
    h = md5_int64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test").alias("split")
    )
    return d.select("source", split).groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# ----------------------------------------------- benchmark decontamination
_DECON_N = 8

_BENCH_TOKS = f"SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents"


@query(
    "decontamination",
    f"""
WITH t AS ({_BENCH_TOKS}),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - {_DECON_N - 2}),
                i -> array_to_string(toks[i : i + {_DECON_N - 1}], ' '))) AS gram
  FROM t WHERE len(toks) >= {_DECON_N}
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10),
hits AS (
  SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
  FROM g JOIN bench USING (gram)
  WHERE g.doc_id >= 10
  GROUP BY 1
)
SELECT count(*) AS n_contaminated,
       CAST(sum(n_shared) AS BIGINT) AS total_shared_grams,
       CAST(max(n_shared) AS BIGINT) AS max_shared_grams
FROM hits
""",
)
def q_decontamination(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents sharing any
    8-gram with a held-out benchmark set (here: doc_id < 10 stands in
    for the eval set). The benchmark gram set is tiny -> broadcast
    semi-join against the corpus gram stream; at 100 TB this runs as a
    map-side hash probe per gram, no corpus shuffle at all (the only
    aggregation is per contaminated doc). Same skew discipline as all
    shingle pipelines."""
    d = _t(spark, sf_dir, "documents")
    d = _repartitioned(spark, d.select("doc_id", "text"))
    toks = d.select("doc_id", F.expr(_TOKS).alias("toks")).filter(
        F.size("toks") >= _DECON_N
    )
    grams_expr = (
        f"transform(sequence(0, size(toks) - {_DECON_N}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {_DECON_N})))"
    )
    g = toks.select("doc_id", F.explode(F.expr(grams_expr)).alias("gram"))
    bench = g.filter(F.col("doc_id") < 10).select("gram").distinct()
    hits = (
        g.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_contaminated"),
        F.sum("n_shared").cast("bigint").alias("total_shared_grams"),
        F.max("n_shared").cast("bigint").alias("max_shared_grams"),
    )


# ------------------------------------- bloom-filter decontamination
# The fixed-size-filter variant of the query above: when the
# contamination list is too large to broadcast raw (every eval set +
# paraphrase expansion at 100 TB), build a Bloom filter over its
# grams — M bits in M/32 words via bit_or — and probe corpus grams
# map-side against the words; only bloom-candidates reach the exact
# confirm join. K=2 hashes from the shared md5_int64; 32-bit words so
# every mask fits BIGINT arithmetic identically on both engines.
_BLOOM_M = 65536  # bits -> 2048 words: 16 KiB regardless of bench size


def _bloom_pos_sql(j: int, gram: str) -> tuple[str, str, str]:
    """(h, word, mask) SQL exprs for hash j of `gram` (DuckDB)."""
    h = MD5_INT64_SQL.format(x=f"'b{j}:' || {gram}") + f" % {_BLOOM_M}"
    return h, f"CAST(({h}) // 32 AS INT)", f"CAST(1 AS BIGINT) << CAST(({h}) % 32 AS INT)"


@query(
    "bloom_decontamination",
    f"""
WITH t AS ({_BENCH_TOKS}),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - {_DECON_N - 2}),
                i -> array_to_string(toks[i : i + {_DECON_N - 1}], ' '))) AS gram
  FROM t WHERE len(toks) >= {_DECON_N}
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10),
pos AS (
  SELECT {_bloom_pos_sql(0, "gram")[1]} AS word, {_bloom_pos_sql(0, "gram")[2]} AS mask FROM bench
  UNION ALL
  SELECT {_bloom_pos_sql(1, "gram")[1]}, {_bloom_pos_sql(1, "gram")[2]} FROM bench
),
bloom AS (SELECT word, bit_or(mask) AS bits FROM pos GROUP BY 1),
corp AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id >= 10),
cand AS (
  SELECT c.doc_id, c.gram
  FROM corp c
  JOIN bloom b0 ON b0.word = {_bloom_pos_sql(0, "c.gram")[1]}
  JOIN bloom b1 ON b1.word = {_bloom_pos_sql(1, "c.gram")[1]}
  WHERE (b0.bits & ({_bloom_pos_sql(0, "c.gram")[2]})) <> 0
    AND (b1.bits & ({_bloom_pos_sql(1, "c.gram")[2]})) <> 0
),
conf AS (SELECT cand.doc_id, cand.gram FROM cand JOIN bench USING (gram))
SELECT (SELECT count(*) FROM cand) AS n_candidate_pairs,
       (SELECT count(*) FROM cand) - (SELECT count(*) FROM conf) AS n_fp_pairs,
       (SELECT count(DISTINCT doc_id) FROM conf) AS n_contaminated,
       (SELECT count(*) FROM conf) AS total_shared_grams
""",
)
def q_bloom_decontamination(spark, sf_dir):
    """Two-phase Bloom decontamination: the benchmark gram set folds
    into a 16 KiB bit array (words x bit_or — sketch-sized no matter
    how many eval grams), corpus grams probe it map-side through two
    broadcast word-joins, and ONLY bloom candidates reach the exact
    confirm join. No false negatives by construction (golden pins
    n_contaminated/total_shared_grams == the broadcast-probe
    `decontamination` query); n_fp_pairs measures the sketch's price.
    At 100 TB this replaces broadcasting the raw gram list — the
    filter stays 16 KiB whether the benchmark suite is 1 MB or 1 TB."""
    d = _t(spark, sf_dir, "documents")
    d = _repartitioned(spark, d.select("doc_id", "text"))
    toks = d.select("doc_id", F.expr(_TOKS).alias("toks")).filter(
        F.size("toks") >= _DECON_N
    )
    grams_expr = (
        f"transform(sequence(0, size(toks) - {_DECON_N}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {_DECON_N})))"
    )
    g = toks.select("doc_id", F.explode(F.expr(grams_expr)).alias("gram"))
    bench = g.filter(F.col("doc_id") < 10).select("gram").distinct()

    def pos(df, j: int):
        h = md5_int64(F.concat(F.lit(f"b{j}:"), F.col("gram"))) % _BLOOM_M
        # mask = 1 << (h % 32), written as an exact double pow so the
        # same expression shape works without shift-by-column support;
        # 2^31 max fits BIGINT exactly on both engines
        return df.withColumn(f"word{j}", F.floor(h / 32).cast("int")).withColumn(
            f"mask{j}", F.pow(F.lit(2.0), (h % 32).cast("double")).cast("bigint")
        )

    # build: both hash positions per bench gram -> word-keyed bit_or
    b0 = pos(bench, 0).select(F.col("word0").alias("word"), F.col("mask0").alias("mask"))
    b1 = pos(bench, 1).select(F.col("word1").alias("word"), F.col("mask1").alias("mask"))
    bloom = b0.unionByName(b1).groupBy("word").agg(F.bit_or("mask").alias("bits"))

    # Probe BEFORE the distinct: the bloom probe is a pure map-side
    # filter (two broadcast word-joins), so running it on the raw gram
    # stream means the only shuffle in the whole plan is the distinct
    # over surviving CANDIDATES (sketch-small), not over every corpus
    # gram — the difference between shuffling ~0.1% and 100% of a
    # 100 TB gram stream. distinct-then-filter == filter-then-distinct
    # for a deterministic per-row predicate, so counts are unchanged.
    corp = g.filter(F.col("doc_id") >= 10)
    probed = pos(pos(corp, 0), 1)
    cand = (
        probed.join(
            F.broadcast(bloom.select(F.col("word").alias("word0"), F.col("bits").alias("bits0"))),
            "word0",
        )
        .join(
            F.broadcast(bloom.select(F.col("word").alias("word1"), F.col("bits").alias("bits1"))),
            "word1",
        )
        .filter(
            (F.col("bits0").bitwiseAND(F.col("mask0")) != 0)
            & (F.col("bits1").bitwiseAND(F.col("mask1")) != 0)
        )
        .select("doc_id", "gram")
        .distinct()
    )
    # One pass over cand: mark confirmed grams with a broadcast left
    # join (bench grams are distinct -> multiplicity 1) instead of
    # evaluating the candidate subtree twice through separate
    # cand.agg / conf.agg branches.
    marked = cand.join(
        F.broadcast(bench.withColumn("_hit", F.lit(1))), "gram", "left"
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        (F.count(F.lit(1)) - F.count("_hit")).alias("n_fp_pairs"),
        F.countDistinct(F.when(F.col("_hit").isNotNull(), F.col("doc_id"))).alias(
            "n_contaminated"
        ),
        F.count("_hit").alias("total_shared_grams"),
    )


# ------------------------------------------------- domain mixture sampling
_MIX_WEIGHTS = {"src0": 100, "src1": 50, "src2": 25}  # percent x 100 basis: out of 10000
_MIX_DEFAULT = 10  # 0.1% for every other source


@query(
    "domain_mixture_sample",
    f"""
WITH w AS (
  SELECT source,
         CASE source
           WHEN 'src0' THEN 100 WHEN 'src1' THEN 50 WHEN 'src2' THEN 25
           ELSE {_MIX_DEFAULT} END AS w_bp,
         {MD5_INT64_SQL.format(x="'mix:' || CAST(doc_id AS VARCHAR)")} % 10000 AS h
  FROM documents
)
SELECT source, count(*) AS n_total,
       CAST(sum(CASE WHEN h < w_bp * 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM w GROUP BY 1
""",
)
def q_domain_mixture_sample(spark, sf_dir):
    """Domain-mixture downsampling: per-source keep rates (a literal
    weight table) applied via deterministic hash thresholding — the
    mixing step that turns raw source proportions into a training
    distribution. Pure map + one aggregate; because membership is
    hash-of-id, re-sampling with a different weight table keeps
    maximal overlap between samples (nested samples, useful for
    scaling-law runs)."""
    d = _t(spark, sf_dir, "documents")
    expr = F.lit(_MIX_DEFAULT)
    for src, w in reversed(_MIX_WEIGHTS.items()):
        expr = F.when(F.col("source") == src, w).otherwise(expr)
    h = md5_int64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 10000
    return (
        d.select("source", expr.alias("w_bp"), h.alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((F.col("h") < F.col("w_bp") * 100).cast("int"))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


# ------------------------------------------- deterministic shard manifest
@query(
    "training_shard_manifest",
    f"""
WITH h AS (
  SELECT doc_id, n_chars,
         {MD5_INT64_SQL.format(x="'shard:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
)
SELECT h % 16 AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(h) AS min_h,
       max(h) AS max_h,
       arg_min(doc_id, h) AS first_doc
FROM h GROUP BY 1
""",
)
def q_training_shard_manifest(spark, sf_dir):
    """Deterministic global reshuffle for training: every doc gets a
    stable 60-bit md5 position, shard = h % 16, and the manifest
    reports per-shard counts/bytes plus the first doc in hash order
    (min_by). This is the reproducible alternative to
    `ORDER BY rand()`: re-running on a grown corpus moves no existing
    doc to a new position, and writers can stream each shard sorted by
    h without a global sort — one shuffle on the shard key, each task
    sorting only its own shard (cf. repartitionByRange at real scale).
    """
    d = _t(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "n_chars",
        md5_int64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    return h.groupBy((F.col("h") % 16).alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("h").alias("min_h"),
        F.max("h").alias("max_h"),
        F.min_by("doc_id", "h").alias("first_doc"),
    )


# ----------------------------------------------- vocabulary coverage
@query(
    "vocab_coverage",
    r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t != '')) AS token
  FROM documents
),
freq AS (SELECT token, count(*) AS freq FROM toks GROUP BY 1),
tot AS (SELECT CAST(sum(freq) AS DOUBLE) AS tot FROM freq),
top AS (SELECT token, freq FROM freq ORDER BY freq DESC, token LIMIT 20)
SELECT token, freq,
       round(CAST(sum(freq) OVER (ORDER BY freq DESC, token
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / (SELECT tot FROM tot), 6) AS cum_coverage
FROM top
""",
)
def q_vocab_coverage(spark, sf_dir):
    """Vocabulary-coverage curve: top-20 corpus tokens by frequency
    with the cumulative fraction of all token occurrences they cover —
    the query behind 'how big must the vocab be to cover 95%'.
    Token counting is one map-side explode + hash agg; the cumulative
    window runs on 20 rows AFTER the limit, so the unpartitioned
    ordered window (normally a red flag) touches only the survivors.
    (freq DESC, token) is a total order, so top-20 is deterministic
    across engines."""
    d = _repartitioned(spark, _t(spark, sf_dir, "documents"))
    toks = d.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
        ).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    tot = freq.agg(F.sum("freq").cast("double").alias("tot"))
    # cumulative sum WITHOUT WindowExec: over the 20-row top-k,
    # cum_freq = sum of freq over rows sorting at-or-before me via a
    # broadcast theta-join (O(20^2), bounded by construction) — no
    # single-partition window in the plan.
    top = freq.orderBy(F.desc("freq"), F.asc("token")).limit(20).localCheckpoint(eager=False)
    t2 = top.select(F.col("freq").alias("freq2"), F.col("token").alias("token2"))
    at_or_before = (F.col("freq2") > F.col("freq")) | (
        (F.col("freq2") == F.col("freq")) & (F.col("token2") <= F.col("token"))
    )
    cum = (
        top.join(F.broadcast(t2), at_or_before)
        .groupBy("token", "freq")
        .agg(F.sum("freq2").alias("cum_freq"))
    )
    return cum.join(F.broadcast(tot)).select(
        "token",
        "freq",
        F.round(F.col("cum_freq").cast("double") / F.col("tot"), 6).alias(
            "cum_coverage"
        ),
    )


# ------------------------------------------------- padding-waste audit
@query(
    "padding_waste",
    f"""
WITH t AS (
  SELECT doc_id, len({_TOKS_DUCK}) AS n_tokens FROM documents
)
SELECT CAST(ceil(n_tokens / 32.0) * 32 AS BIGINT) AS padded_len,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
       CAST(sum(CAST(ceil(n_tokens / 32.0) * 32 AS BIGINT) - n_tokens) AS BIGINT)
         AS pad_waste
FROM t GROUP BY 1
""",
)
def q_padding_waste(spark, sf_dir):
    """Length-bucketed padding audit: docs padded up to the next
    multiple of 32 tokens (the fixed-length training-batch layout;
    32 rather than 128 because the synthetic docs run 10-99 tokens —
    128 would collapse every doc into one bucket), per-bucket real
    vs pad-token totals. The complement of sequence_packing:
    quantifies what naive padding wastes so the packer's win is
    measurable. Pure map + one hash agg — no Python, no window,
    scales linearly."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")).alias(
            "n_tokens"
        ),
    )
    padded = (F.ceil(F.col("n_tokens") / 32.0) * 32).cast("bigint")
    return t.groupBy(padded.alias("padded_len")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("real_tokens"),
        F.sum(padded - F.col("n_tokens")).cast("bigint").alias("pad_waste"),
    )


# ------------------------------------------------- overlapping chunking
_CHUNK_SIZE, _CHUNK_STRIDE = 128, 96


@query(
    "doc_chunks",
    f"""
WITH t AS (SELECT doc_id, len({_TOKS_DUCK}) AS n_tokens FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens = 0 THEN 0
              ELSE 1 + (greatest(n_tokens - {_CHUNK_SIZE}, 0) + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE}
         END AS n_chunks
  FROM t
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(least({_CHUNK_SIZE}, n_tokens - chunk_id * {_CHUNK_STRIDE}) AS INT) AS chunk_len
FROM (SELECT doc_id, n_tokens, unnest(range(0, n_chunks)) AS chunk_id FROM c)
""",
)
def q_doc_chunks(spark, sf_dir):
    """Overlapping context-window chunking (size 128, stride 96) —
    the pretraining precursor to sequence packing: one row
    per (doc, chunk) with the chunk's token length; the final partial
    chunk is kept (len < size). Pure map-side integer arithmetic + an
    explode(sequence(...)) — no shuffle at all until a consumer
    aggregates, and chunk counts are exact integers on both engines
    (ceil done as (a + b - 1) div b, no float ceil)."""
    d = _t(spark, sf_dir, "documents")
    d = _repartitioned(spark, d.select("doc_id", "text"))
    t = d.select("doc_id", F.size(F.expr(_TOKS)).alias("n_tokens"))
    c = t.withColumn(
        "n_chunks",
        F.when(F.col("n_tokens") == 0, F.lit(0)).otherwise(
            1
            + F.expr(
                f"(greatest(n_tokens - {_CHUNK_SIZE}, 0) + {_CHUNK_STRIDE} - 1) div {_CHUNK_STRIDE}"
            )
        ),
    )
    return (
        c.filter(F.col("n_chunks") > 0)
        .select(
            "doc_id",
            "n_tokens",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.least(
                F.lit(_CHUNK_SIZE), F.col("n_tokens") - F.col("chunk_id") * _CHUNK_STRIDE
            )
            .cast("int")
            .alias("chunk_len"),
        )
    )


# ----------------------------------------------- unigram LM commonness
@query(
    "token_frequency_scores",
    f"""
WITH toks AS (
  SELECT doc_id, source, unnest({_TOKS_DUCK}) AS tok FROM documents
),
freq AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
per_doc AS (
  SELECT t.doc_id, t.source,
         CAST(sum(fr.f) AS BIGINT) AS sum_freq,
         CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(CASE WHEN fr.f < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
  FROM toks t JOIN freq fr ON t.tok = fr.tok
  GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(sum_freq) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE), 6)
         AS mean_token_freq,
       round(CAST(sum(n_rare) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE), 6)
         AS rare_token_ratio
FROM per_doc GROUP BY 1
""",
)
def q_token_frequency_scores(spark, sf_dir):
    """Unigram-LM commonness scoring (extension; the frequency-join
    stand-in for perplexity filtering — log-free so both engines
    compute on exact integers until the single final division): build
    the corpus unigram table, join every token back to its corpus
    frequency, and score each source by mean token frequency and
    rare-token (< 5 occurrences) ratio.

    Scale shape: explode is map-side; the frequency agg and the
    token join shuffle on the token (high-cardinality, partial aggs
    map-side); the doc rollup shuffles on doc_id. No broadcast of the
    vocab needed — at 100 TB the unigram table is itself large, and
    the token-keyed hash join handles it; AQE broadcasts it when
    small. All aggregates stay bigint until the final ratios."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", F.explode(F.expr(_TOKS)).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    per_doc = (
        toks.join(freq, "tok")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("f").alias("sum_freq"),
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.when(F.col("f") < 5, 1).otherwise(0)).alias("n_rare"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum("sum_freq").cast("double") / F.sum("n_tok").cast("double"), 6
        ).alias("mean_token_freq"),
        F.round(
            F.sum("n_rare").cast("double") / F.sum("n_tok").cast("double"), 6
        ).alias("rare_token_ratio"),
    )


# ---------------------------------------------- product-quantized ANN
from etl_sh_design_spark.operators.pq import pq_topk, pq_topk_oracle_sql  # noqa: E402


@query("pq_ann_topk", pq_topk_oracle_sql(k=5, n_queries=10))
def q_pq_ann_topk(spark, sf_dir):
    """Product-quantization ANN top-k (extension; the memory-compression
    rung of the similarity ladder — see operators/pq.py for the 100 TB
    contract: KB-sized broadcast codebooks, map-side encode, broadcast
    ADC lookup table, integer-exact cross-subspace sums)."""
    e = _t(spark, sf_dir, "embeddings")
    return pq_topk(e, k=5, n_queries=10)


# ------------------------------------------ incremental NEAR-dup probe
_INC_NEAR_DUCK = f"""
SELECT doc_id + 1000000 AS doc_id,
       array_to_string(({_TOKS_DUCK})[1 : len({_TOKS_DUCK}) - 1], ' ') AS text
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT doc_id + 3000000 AS doc_id,
       array_to_string(list_reverse({_TOKS_DUCK}), ' ') AS text
FROM documents WHERE doc_id % 5 = 0
"""


@query(
    "incremental_neardup",
    f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  {_INC_NEAR_DUCK}
),
sh AS ({word_shingles_sql("corpus")}),
sig AS (
  SELECT doc_id, seed,
         min({_H_SEED_SHINGLE}) AS minh
  FROM sh CROSS JOIN (SELECT CAST(range AS INT) AS seed FROM range(0, 16))
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, CAST(floor(seed / 4) AS BIGINT) AS band,
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS band_key
  FROM sig GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS ex_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000
),
agree AS (
  SELECT c.inc_id, c.ex_id,
         sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS n_agree
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.inc_id
  JOIN sig sb ON sb.doc_id = c.ex_id AND sb.seed = sa.seed
  GROUP BY 1, 2
),
matched AS (SELECT DISTINCT inc_id FROM agree WHERE n_agree >= 8),
incoming AS ({_INC_NEAR_DUCK})
SELECT CASE WHEN m.inc_id IS NOT NULL THEN 'near_dup_of_existing'
            ELSE 'new' END AS status,
       count(*) AS n_docs
FROM incoming i LEFT JOIN matched m ON i.doc_id = m.inc_id
GROUP BY 1
""",
)
def q_incremental_neardup(spark, sf_dir):
    """Incremental NEAR-dup — the production companion to
    incremental_dedup: a new crawl batch (every 3rd doc re-arriving
    with its last token dropped, so exact hashing calls it 'new') is
    probed against the EXISTING corpus through MinHash LSH bands.
    An incoming doc sharing any band bucket with an existing doc at
    >= 8/16 agreeing minhashes is flagged near_dup_of_existing.

    Scale shape: at 100 TB the existing side's banded signature index
    is a stored table (computed once, bucketed on (band, band_key));
    per batch you only sign the incoming docs and hash-join the
    buckets — no all-pairs, no re-scan of existing text. The agree
    threshold compares exact integers (>= 8 of 16), nothing to
    knife-edge. Spark side signs both sets in one MAP-SIDE zero-shuffle
    pass (bit-identical to the wide form; see
    registry_ext.dedup_signatures)."""
    from etl_sh_design_spark.operators.dedup import minhash_signatures_mapside

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # batch fixture: every 3rd doc re-arrives with its last token
    # dropped (a near-dup the exact hash misses); every 5th arrives
    # with its tokens REVERSED — same vocabulary, near-disjoint
    # 3-gram shingles, so the probe must call it new
    incoming = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr(
            f"array_join(slice({_TOKS}, 1, greatest(size({_TOKS}) - 1, 0)), ' ')"
        ).alias("text"),
    ).unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 3000000).alias("doc_id"),
            F.expr(f"array_join(reverse({_TOKS}), ' ')").alias("text"),
        )
    )
    # Round 13 (VERDICT r12 #5, guide §2.4 across queries): the
    # signature map is per-row, so sig(docs UNION incoming) ==
    # sig(docs) UNION sig(incoming) exactly — probe the session's
    # memoized documents-side signature table (the "stored LSH index"
    # this docstring already promises) and sign ONLY the incoming
    # batch here. The docs build is owned by the timed
    # dedup_family_shared_subplan bench entry. The repartition spreads
    # the CPU-bound signing of the incoming half across all cores
    # (small-file scan arrives as 2 splits; no-op cost at real scale).
    from etl_sh_design_spark import registry_ext

    inc_rep = incoming.repartition(spark.sparkContext.defaultParallelism)
    sig_inc = minhash_signatures_mapside(inc_rep, k=16, n=3).localCheckpoint(
        eager=False
    )
    sig = registry_ext.docs_signatures(spark, sf_dir).unionByName(sig_inc)
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.concat_ws(
                ",", *[F.col("sig")[i].cast("string") for i in range(j * 4, j * 4 + 4)]
            ).alias("band_key"),
        )
        for j in range(4)
    ]
    banded = sig.select(
        "doc_id", "sig", F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        "doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    inc_b = banded.filter(F.col("doc_id") >= 1000000).select(
        F.col("doc_id").alias("inc_id"), F.col("sig").alias("sig_i"), "band", "band_key"
    )
    ex_b = banded.filter(F.col("doc_id") < 1000000).select(
        F.col("doc_id").alias("ex_id"), F.col("sig").alias("sig_e"), "band", "band_key"
    )
    agree = F.aggregate(
        F.zip_with("sig_i", "sig_e", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    matched = (
        inc_b.join(ex_b, ["band", "band_key"])
        .withColumn("n_agree", agree)
        .filter(F.col("n_agree") >= 8)
        .select("inc_id")
        .distinct()
    )
    labeled = incoming.join(
        matched.withColumnRenamed("inc_id", "doc_id").withColumn("_hit", F.lit(1)),
        "doc_id",
        "left",
    ).withColumn(
        "status",
        F.when(F.col("_hit").isNotNull(), "near_dup_of_existing").otherwise("new"),
    )
    return labeled.groupBy("status").agg(F.count(F.lit(1)).alias("n_docs"))


from etl_sh_design_spark.operators.pq import ivfpq_topk, ivfpq_topk_oracle_sql  # noqa: E402


@query("ivfpq_ann_topk", ivfpq_topk_oracle_sql(k=5, n_queries=10))
def q_ivfpq_ann_topk(spark, sf_dir):
    """IVF-PQ ANN top-k (extension; the Faiss-style production index:
    coarse cells + residual product quantization, nprobe=1 — see
    operators/pq.py:ivfpq_topk for the 100 TB contract)."""
    e = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(e, k=5, n_queries=10)
