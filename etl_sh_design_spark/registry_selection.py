"""Queries that build a training set from the scored corpus: token
budgets, weighted and capped sampling, temperature and domain
mixtures, DSIR importance weights, snapshot diffs, splits,
decontamination (exact and Bloom), sequence packing and chunking,
padding and context-window planning, shard manifests, the multimodal
decode plumbing, and the preference-data battery (Bradley-Terry,
position bias, rater agreement, win-rate intervals, cycles, label
noise, best-of-n and DPO pairs).

Injected fixtures (planted duplicates, benchmark leaks, cross-source
copies) are written identically in Spark and in the DuckDB oracle,
because the driver's synthetic corpus is clean. Selection orders are
fully tie-broken, so both engines pick the same rows.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark import memo
from etl_sh_design_spark.functions import text
from etl_sh_design_spark.operators import multimodal
from etl_sh_design_spark.operators.dedup import MD5_INT64_SQL, md5_int64
from etl_sh_design_spark.operators.packing import greedy_pack, pack_oracle_sql
from etl_sh_design_spark.operators.preference import (
    _rater_comparisons,
    best_of_n_curve,
    best_of_n_curve_oracle_sql,
    bradley_terry_oracle_sql,
    bradley_terry_strengths,
    dpo_pair_construction,
    dpo_pair_construction_oracle_sql,
    pairwise_winrate_ci,
    pairwise_winrate_ci_oracle_sql,
    position_bias_audit,
    position_bias_audit_oracle_sql,
    preference_cycle_audit,
    preference_cycle_audit_oracle_sql,
    preference_label_noise,
    preference_label_noise_oracle_sql,
    rater_agreement_kappa,
    rater_agreement_kappa_oracle_sql,
)
from etl_sh_design_spark.operators.udtf_ops import register
from etl_sh_design_spark.registry import (
    MUTATED_ID_OFFSET,
    _NORM_DUCK,
    _NORM_SPARK,
    _SCORED_DOCS_SQL,
    _TOKS,
    _TOKS_DUCK,
    _guarded_doc_id,
    _repartitioned,
    _scored_docs_sql,
    _t,
    _v2_corpus,
    query,
)


# ---------------------------------- weighted reservoir sampling (A-Res)
# Efraimidis-Spirakis: key_i = u_i^(1/w_i), keep top-k. We compare in
# log space (ln(u)/w, monotone-equivalent) and derive u deterministic-
# ally from md5(doc_id) so both engines draw the SAME sample. One
# partial top-k (TakeOrderedAndProject) — no global sort shuffle.
_WRS_K = 50
_WRS_U_SQL = (
    "(" + MD5_INT64_SQL.format(x="CAST(doc_id AS VARCHAR) || ':wrs'")
    + " % 1000000000 + 0.5) / 1000000000.0"
)


@query(
    "weighted_sample_docs",
    f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln({_WRS_U_SQL}) / n_chars AS k
  FROM documents
)
SELECT doc_id, source, n_chars, round(k, 9) AS wrs_key
FROM keyed ORDER BY k DESC, doc_id LIMIT {_WRS_K}
""",
)
def q_weighted_sample_docs(spark, sf_dir):
    """One global weighted sample of k=50 docs with probability ∝
    n_chars (A-Res / Efraimidis-Spirakis 2006), deterministic via a
    hash-derived uniform. At 100 TB this is the way to draw a fixed-
    size weighted sample in one pass: per-partition top-k then a
    driver-side k-merge — exactly what orderBy().limit(k) compiles
    to (TakeOrderedAndProject), with zero full-data shuffle."""
    d = _t(spark, sf_dir, "documents")
    u = (
        md5_int64(F.concat(F.col("doc_id").cast("string"), F.lit(":wrs")))
        % 1000000000
        + 0.5
    ) / 1000000000.0
    keyed = d.select(
        "doc_id", "source", "n_chars", (F.log(u) / F.col("n_chars")).alias("k")
    )
    return (
        keyed.orderBy(F.desc("k"), "doc_id")
        .limit(_WRS_K)
        .select("doc_id", "source", "n_chars", F.round("k", 9).alias("wrs_key"))
    )


# --------------------------------------------------------------------
# token-budget corpus selection
# --------------------------------------------------------------------

def budget_prefix_select(spark, scored, frac_num: int = 2, frac_den: int = 5):
    """Select the longest (score DESC, doc_id) prefix of `scored`
    (doc_id, source, n_tok, score) whose token sum fits
    total * frac_num // frac_den — WITHOUT a global single-partition
    sort: range-partition on the selection order, collect P
    metadata-sized per-partition token subtotals, broadcast prefix
    offsets, cumulative-sum under a window partitioned by partition
    id (the `registry_relational.q_ntile` distributed range-rank pattern,
    generalized from counts to sums). Budget arithmetic is exact
    integer, so both engines cut at the same document."""
    p = spark.sparkContext.defaultParallelism
    # Pin the sampled range boundaries: `parts` feeds both the
    # subtotal collect and the final plan (cf. registry_relational.q_ntile).
    parts = (
        scored.repartitionByRange(p, F.col("score").desc(), F.col("doc_id"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    subtotals = sorted(
        (r["pid"], r["tok"])
        for r in parts.groupBy("pid").agg(F.sum("n_tok").alias("tok")).collect()
    )
    total = sum(t for _, t in subtotals)
    budget = total * frac_num // frac_den
    offsets, acc = [], 0
    for pid, tok in subtotals:
        offsets.append((pid, acc))
        acc += tok
    off_df = spark.createDataFrame(offsets, schema="pid int, _offset long")
    wloc = W.partitionBy("pid").orderBy(F.col("score").desc(), F.col("doc_id"))
    cum = (
        parts.withColumn(
            "_lcum",
            F.sum("n_tok").over(wloc.rowsBetween(W.unboundedPreceding, 0)),
        )
        .join(F.broadcast(off_df), "pid")
        .withColumn("cum", F.col("_offset") + F.col("_lcum"))
    )
    return cum.filter(F.col("cum") <= F.lit(budget))


@query(
    "token_budget_selection",
    f"""
WITH scored AS ({_SCORED_DOCS_SQL}),
tot AS (SELECT (CAST(sum(n_tok) AS BIGINT) * 2) // 5 AS budget FROM scored),
ranked AS (
  SELECT *, sum(n_tok) OVER (ORDER BY score DESC, doc_id) AS cum FROM scored
),
sel AS (SELECT r.* FROM ranked r CROSS JOIN tot WHERE r.cum <= tot.budget)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sel_tokens,
       round(min(score), 6) AS min_score
FROM sel GROUP BY source
""",
)
def q_token_budget_selection(spark, sf_dir):
    """Corpus curation's final cut: keep the highest-quality documents
    whose cumulative token count fits a global budget (here 40% of the
    corpus, exact integer arithmetic: budget = total*2 // 5), greedy
    by (quality DESC, doc_id) — i.e. the classic quality-ranked prefix
    selection every LLM-data pipeline ends with.

    Scale story: the global cumulative sum is computed WITHOUT a
    single-partition window. Documents are range-partitioned on the
    selection order, each partition's token subtotal (P metadata-sized
    values) is collected and turned into broadcast prefix offsets, and
    the in-partition cumulative sum runs under a window partitioned by
    partition id — P balanced groups. Same plan at 1000 executors;
    nothing funnels through one task. (Distributed range-rank pattern
    of `registry_relational.q_ntile`, generalized from counts to sums.)
    """
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        text.token_count("text").cast("bigint").alias("n_tok"),
        text.quality_score("text").alias("score"),
    )
    sel = budget_prefix_select(spark, scored)
    return sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sel_tokens"),
        F.round(F.min("score"), 6).alias("min_score"),
    )


# --------------------------------------------------------------------
# corpus snapshot diff (incremental-pipeline churn audit)
# --------------------------------------------------------------------

# Deterministic "v2" of the corpus derived from the documents table:
# docs with doc_id % 17 == 3 are deleted, docs with doc_id % 11 == 5
# are edited (a marker token appended), docs with doc_id % 13 == 7
# spawn a new doc at doc_id + 1_000_000. This mirrors the
# j9_run_comparison pattern: both versions derive from one scan, so
# the oracle is pure SQL and the diff semantics are pinned exactly.

_SNAP_V2_SQL = f"""
  SELECT doc_id, source,
         CASE WHEN doc_id % 11 = 5 THEN text || ' edited' ELSE text END AS text
  FROM documents WHERE doc_id % 17 <> 3
  UNION ALL
  SELECT doc_id + {MUTATED_ID_OFFSET}, source, text || ' new'
  FROM documents WHERE doc_id % 13 = 7
"""


@query(
    "corpus_snapshot_diff",
    f"""
WITH v1 AS (SELECT doc_id, source, md5(text) AS h FROM documents),
v2 AS (SELECT doc_id, source, md5(text) AS h FROM ({_SNAP_V2_SQL})),
d AS (
  SELECT coalesce(v1.source, v2.source) AS source,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.h <> v2.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 USING (doc_id)
)
SELECT source, status, CAST(count(*) AS BIGINT) AS n
FROM d GROUP BY 1, 2
""",
)
def q_corpus_snapshot_diff(spark, sf_dir):
    """Snapshot-to-snapshot corpus diff: classify every document as
    added / removed / changed / unchanged between two corpus versions
    by content hash, rolled up per (source, status) — the churn audit
    an incremental ingestion pipeline runs before deciding what to
    re-tokenize, re-embed, and re-dedup (only 'added' + 'changed'
    re-enter the pipeline; cf. `incremental_dedup` for the dedup leg).

    One doc_id-keyed full-outer hash join between version manifests
    (id, source, content-hash) — manifest-sized, never full-text; at
    100 TB the manifests are the small fraction you'd keep as the
    pipeline's state table, and the join is a plain co-partitioned
    equi-join. v2 derives deterministically from v1 (delete doc_id%17,
    edit %11, add %13 clones) so both engines diff identical inputs.
    """
    v1 = _t(spark, sf_dir, "documents").select("doc_id", "source", F.md5("text").alias("h"))
    v2 = _v2_corpus(spark, sf_dir).select("doc_id", "source", F.md5("text").alias("h"))
    j = v1.alias("a").join(v2.alias("b"), "doc_id", "full_outer")
    status = (
        F.when(F.col("a.h").isNull(), F.lit("added"))
        .when(F.col("b.h").isNull(), F.lit("removed"))
        .when(F.col("a.h") != F.col("b.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
            status.alias("status"),
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------
# end-to-end curation pipeline (quality gate -> exact dedup -> budget)
# --------------------------------------------------------------------

# Corpus with planted exact duplicates (docs with doc_id % 19 == 4 are
# cloned at +2 * MUTATED_ID_OFFSET) so the dedup stage demonstrably
# removes rows — the raw synthetic corpus has no verbatim dups.
_E2E_CORPUS_SQL = f"""
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + {2 * MUTATED_ID_OFFSET}, source, text FROM documents WHERE doc_id % 19 = 4
"""


@query(
    "curation_pipeline_e2e",
    f"""
WITH corpus AS ({_E2E_CORPUS_SQL}),
scored AS ({_scored_docs_sql("corpus")}),
cand AS (SELECT * FROM scored WHERE score >= 0.5e0 AND n_tok >= 20),
canon AS (SELECT h, min(doc_id) AS keep FROM cand GROUP BY 1),
uniq AS (SELECT c.* FROM cand c JOIN canon ON c.doc_id = canon.keep),
tot AS (SELECT (CAST(sum(n_tok) AS BIGINT) * 2) // 5 AS budget FROM uniq),
ranked AS (
  SELECT *, sum(n_tok) OVER (ORDER BY score DESC, doc_id) AS cum FROM uniq
),
sel AS (SELECT r.* FROM ranked r CROSS JOIN tot WHERE r.cum <= tot.budget),
c1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_candidates FROM cand GROUP BY 1),
c2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_unique FROM uniq GROUP BY 1),
c3 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
              CAST(sum(n_tok) AS BIGINT) AS sel_tokens,
              round(min(score), 6) AS min_sel_score
       FROM sel GROUP BY 1)
SELECT c1.source, n_candidates,
       coalesce(n_unique, 0) AS n_unique,
       coalesce(n_selected, 0) AS n_selected,
       coalesce(sel_tokens, 0) AS sel_tokens,
       coalesce(min_sel_score, CAST(-1.0 AS DOUBLE)) AS min_sel_score
FROM c1 LEFT JOIN c2 USING (source) LEFT JOIN c3 USING (source)
""",
)
def q_curation_pipeline_e2e(spark, sf_dir):
    """The whole curation story as ONE composed declarative plan:
    quality gate (composite score >= 0.5, >= 20 tokens) -> exact
    dedup (normalized content hash, keep min doc_id) -> token-budget
    selection (40% of the surviving tokens, quality-ranked prefix) —
    reported per source as candidates / unique / selected / tokens.
    Demonstrates that the engine's stages compose without
    materialization boundaries: Catalyst sees one tree (bar the
    metadata-sized subtotal collect inside `budget_prefix_select`).

    Scale: each stage is the already-audited plan — map-side scoring,
    one hash-keyed dedup shuffle, the distributed range-rank budget
    cut — composed; nothing multiplies. Duplicates are planted
    (doc_id % 19 clones) so the dedup stage visibly removes rows.
    """
    d = _t(spark, sf_dir, "documents").select(_guarded_doc_id(), "source", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 19 == 4).select(
            (F.col("doc_id") + 2 * MUTATED_ID_OFFSET).alias("doc_id"), "source", "text"
        )
    )
    scored = corpus.select(
        "doc_id",
        "source",
        text.token_count("text").cast("bigint").alias("n_tok"),
        text.quality_score("text").alias("score"),
        text.content_hash("text").alias("h"),
    )
    # Checkpoint the gated candidate set ONCE: four downstream branches
    # (per-source candidate counts, the dedup groupBy, the unique-count
    # agg, and the budget cut's range repartition) would otherwise each
    # re-scan and re-score the corpus — the tokenize/score/hash maps
    # are the expensive part, and 4x-evaluating them is exactly what a
    # production pipeline avoids by persisting the post-gate corpus at
    # this stage boundary (the one materialization a multi-consumer
    # stage genuinely needs; measured 4.7 -> 3.3 s warm at sf0.1).
    cand = scored.filter(
        (F.col("score") >= 0.5) & (F.col("n_tok") >= 20)
    ).localCheckpoint(eager=False)
    canon = cand.groupBy("h").agg(F.min("doc_id").alias("keep"))
    uniq = cand.join(canon, cand.doc_id == canon.keep).select(
        cand.doc_id, "source", "n_tok", "score"
    )
    sel = budget_prefix_select(spark, uniq)
    c1 = cand.groupBy("source").agg(F.count(F.lit(1)).alias("n_candidates"))
    c2 = uniq.groupBy("source").agg(F.count(F.lit(1)).alias("n_unique"))
    c3 = sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("n_tok").cast("bigint").alias("sel_tokens"),
        F.round(F.min("score"), 6).alias("min_sel_score"),
    )
    return (
        c1.join(c2, "source", "left")
        .join(c3, "source", "left")
        .select(
            "source",
            "n_candidates",
            F.coalesce("n_unique", F.lit(0).cast("bigint")).alias("n_unique"),
            F.coalesce("n_selected", F.lit(0).cast("bigint")).alias("n_selected"),
            F.coalesce("sel_tokens", F.lit(0).cast("bigint")).alias("sel_tokens"),
            F.coalesce("min_sel_score", F.lit(-1.0)).alias("min_sel_score"),
        )
    )


# ---------------------------------------------- temperature mixture plan
_TEMP_ALPHA = 0.3  # mT5-style smoothing exponent
_TEMP_BUDGET = 400  # total training-sample budget at sf0.01


@query(
    "temperature_mixture_plan",
    f"""
WITH per AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT sum(pow(CAST(n_docs AS DOUBLE), {_TEMP_ALPHA})) AS z FROM per)
SELECT source, n_docs,
       round(pow(CAST(n_docs AS DOUBLE), {_TEMP_ALPHA}) / z, 6) AS weight,
       CAST(least(CAST(n_docs AS DOUBLE),
                  floor(round({_TEMP_BUDGET} * pow(CAST(n_docs AS DOUBLE), {_TEMP_ALPHA}) / z, 6)))
            AS BIGINT) AS target_docs,
       CASE WHEN round({_TEMP_BUDGET} * pow(CAST(n_docs AS DOUBLE), {_TEMP_ALPHA}) / z, 6)
                 > CAST(n_docs AS DOUBLE) THEN 1 ELSE 0 END AS capped,
       round(least(CAST(n_docs AS DOUBLE),
                   floor(round({_TEMP_BUDGET} * pow(CAST(n_docs AS DOUBLE), {_TEMP_ALPHA}) / z, 6)))
             / n_docs, 6) AS epochs
FROM per, tot
""",
)
def q_temperature_mixture_plan(spark, sf_dir):
    """Temperature-based mixture ALLOCATION (mT5/UNIMAX-style): derive
    per-source sampling weights n_i^alpha / sum n_j^alpha from the
    corpus itself (alpha < 1 upweights small sources), allocate a
    sample budget, cap each source at one epoch, and report the
    resulting epochs fraction. The planning twin of
    `domain_mixture_sample`, whose weight table is literal — this
    query COMPUTES the table a temperature-mixing run would feed it.

    Scale shape: one map-combined groupBy(source) count (vocabulary-
    sized shuffle), then the normalizer joins back as a 1-row
    broadcast cross — no corpus-sized data moves twice. The one-epoch
    cap is a closed form here; an exact UNIMAX water-filling
    (redistributing capped surplus) is iterative over SOURCES, i.e.
    driver-sized, never data-sized."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    npow = F.pow(F.col("n_docs").cast("double"), F.lit(_TEMP_ALPHA))
    z = per.agg(F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(_TEMP_ALPHA))).alias("z"))
    # round BEFORE floor: pow() differs between engines in the last
    # ulp, and floor() amplifies that to a whole-doc difference when
    # the raw allocation sits at an integer boundary (seen live:
    # 20.0 vs 19.999999...). After a 6-dp round both engines floor
    # the same value.
    raw = F.round(F.lit(_TEMP_BUDGET) * npow / F.col("z"), 6)
    target = F.least(F.col("n_docs").cast("double"), F.floor(raw))
    return per.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.round(npow / F.col("z"), 6).alias("weight"),
        target.cast("bigint").alias("target_docs"),
        (raw > F.col("n_docs").cast("double")).cast("int").alias("capped"),
        F.round(target / F.col("n_docs"), 6).alias("epochs"),
    )


# ------------------------------------------- DSIR importance weights
_DSIR_B = 256  # hashed-feature buckets

_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, lang, unnest({_TOKS_DUCK}) AS tok FROM documents
),
b AS (
  SELECT doc_id, source, lang,
         {MD5_INT64_SQL.format(x='tok')} % {_DSIR_B} AS bucket
  FROM toks
),
raw AS (SELECT bucket, count(*) AS c_r FROM b GROUP BY 1),
tgt AS (SELECT bucket, count(*) AS c_t FROM b WHERE lang = 'en' GROUP BY 1),
tot AS (
  SELECT count(*) AS n_r,
         count(*) FILTER (WHERE lang = 'en') AS n_t
  FROM b
),
model AS (
  SELECT bucket,
         ln((coalesce(c_t, 0) + 1) / (n_t + {_DSIR_B}))
         - ln((c_r + 1) / (n_r + {_DSIR_B})) AS lr
  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot
),
docb AS (
  SELECT doc_id, source, bucket, count(*) AS c FROM b GROUP BY 1, 2, 3
),
logw AS (
  SELECT doc_id, source, round(sum(c * lr), 6) AS logw
  FROM docb JOIN model USING (bucket) GROUP BY 1, 2
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(logw), 6) AS mean_logw,
       round(avg(CASE WHEN logw > 0 THEN 1.0e0 ELSE 0.0e0 END), 6)
         AS sel_ratio
FROM logw GROUP BY 1
"""


@query("dsir_importance_weights", _DSIR_SQL)
def q_dsir_importance_weights(spark, sf_dir):
    """DSIR-style importance resampling weights (hashed n-gram
    features; Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling"): hash every token into B=256 feature
    buckets, fit Laplace-smoothed bag-of-buckets models for the
    TARGET distribution (lang='en' docs, the stand-in for a curated
    target corpus) and the RAW distribution (all docs), then score
    each document with the importance log-ratio
    sum_b c_doc(b) * (ln p_target(b) - ln p_raw(b)). Reported per
    source: mean log-weight and the fraction of docs a
    weight-threshold resampler (logw > 0) would keep.

    Scale shape: tokenize/hash/bucket is map-side; both model aggs
    are B-bounded (256 groups) with map-side partials; the model
    table is KB-sized and BROADCAST to the per-doc bucket-count join,
    so the only data-sized shuffle is the (doc_id, bucket) count —
    doc-local keys, partition-parallel at any corpus size. The
    token-total pair is a 1-row scalar crossJoin (lint-whitelisted).
    Float discipline: int/int true division then ln; per-doc log
    weight rounded 6 dp on both engines before thresholding/
    averaging."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", "lang", F.explode(F.expr(_TOKS)).alias("tok")
    )
    b = toks.withColumn("bucket", md5_int64(F.col("tok")) % _DSIR_B)
    raw = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_r"))
    tgt = (
        b.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    tot = b.agg(
        F.count(F.lit(1)).alias("n_r"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_t"),
    )
    model = (
        raw.join(tgt, "bucket", "left")
        .na.fill(0, ["c_t"])
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log((F.col("c_t") + 1) / (F.col("n_t") + _DSIR_B))
                - F.log((F.col("c_r") + 1) / (F.col("n_r") + _DSIR_B))
            ).alias("lr"),
        )
    )
    docb = b.groupBy("doc_id", "source", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    logw = (
        docb.join(F.broadcast(model), "bucket")
        .groupBy("doc_id", "source")
        .agg(F.round(F.sum(F.col("c") * F.col("lr")), 6).alias("logw"))
    )
    return logw.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("logw"), 6).alias("mean_logw"),
        F.round(F.avg((F.col("logw") > 0).cast("double")), 6).alias("sel_ratio"),
    )


# ------------------------------------------------ per-source cap
_CAP_K = 15

_SCS_SQL = f"""
WITH s AS ({_scored_docs_sql()}),
r AS (
  SELECT source, n_tok, score,
         row_number() OVER (PARTITION BY source
                            ORDER BY score DESC, doc_id) AS rn
  FROM s
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN rn <= {_CAP_K} THEN 1 END) AS BIGINT) AS n_kept,
       CASE WHEN sum(n_tok) > 0 THEN
         round(CAST(sum(CASE WHEN rn <= {_CAP_K} THEN n_tok ELSE 0 END)
                    AS DOUBLE) / sum(n_tok), 6) END AS token_retention
FROM r GROUP BY 1
"""


@query("source_cap_sample", _SCS_SQL)
def q_source_cap_sample(spark, sf_dir):
    """Per-source document cap — the FineWeb/C4 per-domain cap that
    stops any one source from dominating the mixture: keep the top-K
    (K=15) documents per source by (quality score DESC, doc_id),
    report per source how many documents survive and what fraction of
    that source's tokens they retain.

    Scale shape: the rank is a KEYED window (PARTITION BY source) —
    sort-spillable within each source's partitions, never global; the
    rollup groups on the same key, so source skew is the only hazard
    and AQE's skew handling plus the documented salting pattern
    (salted_agg_events) cover it. Ties are impossible cross-engine:
    the order key (round-6dp score, doc_id) is total."""
    d = _t(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        "source",
        text.token_count("text").cast("bigint").alias("n_tok"),
        text.quality_score("text").alias("score"),
    )
    w = W.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    r = s.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") <= _CAP_K
    return r.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.when(
            F.sum("n_tok") > 0,
            F.round(
                F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).cast("double")
                / F.sum("n_tok"),
                6,
            ),
        ).alias("token_retention"),
    )


# ---------------------------------------------- context window fit
_CW_SIZES = [128, 512, 2048]

_CWF_SQL = f"""
WITH t AS (SELECT doc_id, len({_TOKS_DUCK}) AS n_tok FROM documents),
w AS (SELECT unnest({_CW_SIZES}) AS window_size),
x AS (SELECT window_size, n_tok FROM t CROSS JOIN w)
SELECT window_size,
       CAST(count(CASE WHEN n_tok <= window_size THEN 1 END) AS BIGINT)
         AS n_fit,
       CAST(count(*) AS BIGINT) AS n_docs,
       CASE WHEN sum(n_tok) > 0 THEN
         round(CAST(sum(CASE WHEN n_tok > window_size
                        THEN n_tok - window_size ELSE 0 END) AS DOUBLE)
               / sum(n_tok), 6) END AS trunc_loss_ratio
FROM x GROUP BY 1
"""


@query("context_window_fit", _CWF_SQL)
def q_context_window_fit(spark, sf_dir):
    """Context-window truncation planning: for each candidate training
    window size (128 / 512 / 2048 tokens), how many documents fit
    whole and what fraction of corpus TOKENS a truncate-to-window
    policy would discard. Read next to `padding_waste` (which prices
    the SHORT-doc side of the same decision) and `sequence_packing`
    (the remedy): together they are the window-size design loop.

    Scale shape: token count is one map-side expression; the x3
    window fan-out is a literal-array explode; the rollup has exactly
    3 groups with map-side partials (10-row-per-task shuffle at any
    corpus size). All-integer until the final correctly-rounded
    ratio."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(F.size(F.expr(_TOKS)).cast("bigint").alias("n_tok"))
    x = t.withColumn(
        "window_size", F.explode(F.array(*[F.lit(w) for w in _CW_SIZES]))
    )
    over = F.col("n_tok") > F.col("window_size")
    return x.groupBy("window_size").agg(
        F.count(F.when(~over, 1)).alias("n_fit"),
        F.count(F.lit(1)).alias("n_docs"),
        F.when(
            F.sum("n_tok") > 0,
            F.round(
                F.sum(
                    F.when(over, F.col("n_tok") - F.col("window_size")).otherwise(0)
                ).cast("double")
                / F.sum("n_tok"),
                6,
            ),
        ).alias("trunc_loss_ratio"),
    )


# ---------------------------------------------- cross-source leakage
# Planted fixture: every doc_id % 10 == 0 document gets a re-cased,
# whitespace-padded twin attributed to a DIFFERENT source (the next
# source in the per-doc ordering), so the normalized dedup key links
# source pairs deterministically — the cross-SOURCE twin of
# normalized_dedup's within-source plant.
_XSL_PLANT_DUCK = f"""
SELECT doc_id, source, text FROM documents
UNION ALL
SELECT d.doc_id + {2 * MUTATED_ID_OFFSET} AS doc_id, o.source,
       upper(d.text) || '  ' AS text
FROM documents d
JOIN (SELECT doc_id, source FROM documents) o ON o.doc_id = d.doc_id + 1
WHERE d.doc_id % 10 = 0
"""

_XSL_SQL = f"""
WITH corpus AS ({_XSL_PLANT_DUCK}),
h AS (SELECT source, md5({_NORM_DUCK}) AS h_norm FROM corpus),
hs AS (SELECT DISTINCT h_norm, source FROM h),
p AS (
  SELECT a.source AS source_a, b.source AS source_b, a.h_norm
  FROM hs a JOIN hs b ON a.h_norm = b.h_norm AND a.source < b.source
)
SELECT source_a, source_b,
       CAST(count(DISTINCT h_norm) AS BIGINT) AS n_shared_docs
FROM p GROUP BY 1, 2
"""


@query("cross_source_leakage", _XSL_SQL)
def q_cross_source_leakage(spark, sf_dir):
    """Cross-source duplicate leakage matrix: which pairs of sources
    share documents under the normalized dedup key (the audit run
    before attributing mixture weights — a source whose content is
    largely another source's re-crawl should not count twice).
    Deterministic fixture: every doc_id % 10 == 0 document is planted
    again under the NEXT doc's source (re-cased + padded), so every
    reported pair traces to known plants on the test corpora.

    Scale shape: normalization + md5 are map-side; the DISTINCT
    (h_norm, source) projection and the per-hash source self-join
    shuffle on the hash — and the join's per-key fan-out is bounded
    by the number of SOURCES a hash appears in (the s^2 blowup is per
    duplicated doc across s sources, with s <= |sources|, a
    mixture-design constant), never by corpus size. The rollup
    groups on source pairs — dimension-bounded output."""
    d = _t(spark, sf_dir, "documents").select(_guarded_doc_id(), "source", "text")
    nxt = d.select((F.col("doc_id") - 1).alias("doc_id"), F.col("source").alias("next_source"))
    planted = (
        d.filter(F.col("doc_id") % 10 == 0)
        .join(nxt, "doc_id")
        .select(
            (F.col("doc_id") + 2 * MUTATED_ID_OFFSET).alias("doc_id"),
            F.col("next_source").alias("source"),
            F.concat(F.upper("text"), F.lit("  ")).alias("text"),
        )
    )
    corpus = d.unionByName(planted)
    hs = corpus.select(
        "source", F.md5(F.expr(_NORM_SPARK)).alias("h_norm")
    ).distinct()
    a = hs.select(F.col("h_norm"), F.col("source").alias("source_a"))
    b = hs.select(F.col("h_norm"), F.col("source").alias("source_b"))
    p = a.join(b, "h_norm").filter(F.col("source_a") < F.col("source_b"))
    return p.groupBy("source_a", "source_b").agg(
        F.countDistinct("h_norm").alias("n_shared_docs")
    )


# ---------------------------------------------- vision token budget

_PATCH = 14  # ViT-style patch edge

_VTB_SQL = f"""
WITH img AS (
  SELECT doc_id, source,
         greatest(1, octet_length(encode(text)) % 640) AS width,
         greatest(1, (octet_length(encode(text)) * 7) % 480) AS height,
         len({_TOKS_DUCK}) AS text_tokens
  FROM documents
),
t AS (
  SELECT source,
         ((width + {_PATCH - 1}) // {_PATCH})
           * ((height + {_PATCH - 1}) // {_PATCH}) AS vision_tokens,
         text_tokens
  FROM img
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(vision_tokens) AS BIGINT) AS vision_tokens,
       CAST(sum(text_tokens) AS BIGINT) AS text_tokens,
       CASE WHEN sum(vision_tokens) + sum(text_tokens) > 0 THEN
         round(CAST(sum(vision_tokens) AS DOUBLE)
               / (sum(vision_tokens) + sum(text_tokens)), 6) END
         AS vision_frac
FROM t GROUP BY 1
"""


@query("vision_token_budget", _VTB_SQL)
def q_vision_token_budget(spark, sf_dir):
    """Multimodal token accounting — the budgeting step a VLM training
    pipeline runs before packing: per source, the total VISION tokens
    (ViT-style ceil(w/14) x ceil(h/14) patches per image, from the
    decoded — here deterministically stubbed — image dimensions) next
    to the total TEXT tokens, and the vision share of the combined
    budget. Read beside `context_window_fit`/`sequence_packing`: a
    multimodal sample's window cost is text + patches, and this table
    is where that denominator comes from.

    Scale shape: the decode runs through the REAL multimodal plumbing
    (to_binary_table -> Arrow-batched mapInPandas, narrow, no
    shuffle); patch arithmetic is exact-integer `div`; the join back
    to the text token count is doc_id-keyed (co-partitioned scans of
    the same table; AQE broadcasts the thinner side at small SF); the
    rollup is source-keyed with map-side partials. The stubbed
    dimensions are pure functions of the payload bytes, so the DuckDB
    twin reproduces every value exactly (the multimodal_decode_stub
    contract)."""
    d = _t(spark, sf_dir, "documents")
    img = multimodal.decode_image(
        multimodal.to_binary_table(d), fake=True
    ).select("doc_id", "width", "height")
    txt = d.select(
        "doc_id",
        "source",
        F.size(F.expr(_TOKS)).cast("bigint").alias("text_tokens"),
    )
    t = txt.join(img, "doc_id").select(
        "source",
        "text_tokens",
        (
            F.expr(f"(width + {_PATCH - 1}) div {_PATCH}")
            * F.expr(f"(height + {_PATCH - 1}) div {_PATCH}")
        ).cast("bigint").alias("vision_tokens"),
    )
    v, x = F.sum("vision_tokens"), F.sum("text_tokens")
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        v.cast("bigint").alias("vision_tokens"),
        x.cast("bigint").alias("text_tokens"),
        F.when(
            v + x > 0, F.round(v.cast("double") / (v + x), 6)
        ).alias("vision_frac"),
    )


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


# ------------------------------------ Bradley-Terry preference strengths

# The battery's shared sub-plan: every preference query (BT, the four
# audits, label noise) starts from the SAME user-keyed adjacency
# window over events, so — like the dedup family's signature/pair
# sub-plans (registry_dedup) — the comparison stream is session-memoized
# per sf_dir as a lazy localCheckpoint: the first battery query in a
# session pays the one exchange, the rest reuse the materialized rows.
# Result-identical to recomputing (parity golden in tests/test_r12.py);
# operators keep their standalone paths for direct callers.
def battery_comparisons(spark, sf_dir):
    return memo.get(
        spark,
        "comparisons",
        sf_dir,
        lambda: _rater_comparisons(_t(spark, sf_dir, "events")).localCheckpoint(
            eager=False
        ),
    )


@query("bradley_terry_strengths", bradley_terry_oracle_sql(rounds=3))
def q_bradley_terry_strengths(spark, sf_dir):
    """RLHF/reward-data preference aggregation (operator docstring):
    each user's adjacent event pairs with distinct types and values
    form one pairwise preference; 3 Bradley-Terry MM rounds on the
    |items|²-bounded win matrix yield per-type strengths (gauge-fixed
    to sum 1). The comparison stream is one user-keyed window —
    memoized across the battery (battery_comparisons); every MM round
    is matrix-sized, never stream-sized."""
    return bradley_terry_strengths(
        _t(spark, sf_dir, "events"),
        rounds=3,
        comparisons=battery_comparisons(spark, sf_dir),
    )


# ------------------------------------ RLHF preference battery (stretch)
# Every battery query consumes the memoized shared comparison
# sub-plan (registry_selection.battery_comparisons): one user-keyed
# exchange per session per sf_dir for the whole family.

@query("position_bias_audit", position_bias_audit_oracle_sql())
def q_position_bias_audit(spark, sf_dir):
    """Per-rater first-position win rate vs the Binomial(n, 0.5) null
    over the SAME comparison stream bradley_terry_strengths consumes
    (operator docstring): the annotation-quality audit that catches
    raters injecting position, not preference, into reward data."""
    return position_bias_audit(
        _t(spark, sf_dir, "events"),
        comparisons=battery_comparisons(spark, sf_dir),
    )


@query("rater_agreement_kappa", rater_agreement_kappa_oracle_sql())
def q_rater_agreement_kappa(spark, sf_dir):
    """Per-rater Cohen's kappa against the pooled majority verdict
    (binary-recoded across item pairs; operator docstring) — the
    inter-annotator agreement audit of the preference battery."""
    return rater_agreement_kappa(
        _t(spark, sf_dir, "events"),
        comparisons=battery_comparisons(spark, sf_dir),
    )


@query("pairwise_winrate_ci", pairwise_winrate_ci_oracle_sql())
def q_pairwise_winrate_ci(spark, sf_dir):
    """Per item pair: smaller-item win rate with the Wilson 95% lower
    bound (operator docstring) — which pairwise rankings the
    comparison volume actually supports. |items|²-bounded output."""
    return pairwise_winrate_ci(
        _t(spark, sf_dir, "events"),
        comparisons=battery_comparisons(spark, sf_dir),
    )


@query("preference_cycle_audit", preference_cycle_audit_oracle_sql())
def q_preference_cycle_audit(spark, sf_dir):
    """Condorcet-cycle rate over strict-majority item triples
    (operator docstring) — cyclic preference data has no consistent
    ranking for a reward model to learn. One scalar row."""
    return preference_cycle_audit(
        _t(spark, sf_dir, "events"),
        comparisons=battery_comparisons(spark, sf_dir),
    )


@query("preference_label_noise", preference_label_noise_oracle_sql(rounds=3))
def q_preference_label_noise(spark, sf_dir):
    """Per item pair: comparisons contradicting the fitted BT ranking
    (operator docstring) — the reward-data cleaning signal that closes
    the battery's loop from raw judgments to the model they train."""
    return preference_label_noise(
        _t(spark, sf_dir, "events"),
        rounds=3,
        comparisons=battery_comparisons(spark, sf_dir),
    )


# ------------------------- generation-selection analytics (RLHF prep)

@query("best_of_n_curve", best_of_n_curve_oracle_sql(ns=(1, 2, 4, 8), min_pool=8))
def q_best_of_n_curve(spark, sf_dir):
    """Exact best-of-n expected-reward curve over per-user candidate
    pools (operator docstring): closed-form order statistics — one
    user-keyed window + one global micro-unit-quantized aggregate, no
    Monte-Carlo subsampling — reporting how much reward best-of-n
    selection buys at n = 1/2/4/8. |ns| output rows."""
    return best_of_n_curve(_t(spark, sf_dir, "events"), ns=(1, 2, 4, 8), min_pool=8)


@query("dpo_pair_construction", dpo_pair_construction_oracle_sql(min_margin=0.0))
def q_dpo_pair_construction(spark, sf_dir):
    """Chosen/rejected training-pair extraction per user pool
    (operator docstring): highest- vs lowest-scored candidate with a
    strict-positive margin gate and deterministic id tie-breaks — the
    preference-data PREP stage next to the battery's audits. One
    user-keyed exchange; ≤ |users| output rows."""
    return dpo_pair_construction(_t(spark, sf_dir, "events"), min_margin=0.0)
