"""Round-8c extension registry: the selection / normalization /
preprocessing curation shapes the pipeline family still lacked.

- `perplexity_buckets` — the CCNet head/middle/tail corpus partition
  (Wenzek et al. 2020): exact tercile thresholds of the per-doc
  bigram-LM NLL via the sort-spillable rank plan, broadcast scalars,
  map-side bucketing. Completes `bigram_lm_perplexity` (which scores)
  with the SELECTION step CCNet actually ships.
- `quality_retention_curve` — the filter-design curve: docs kept and
  token share retained at every quality-score threshold 0.00..0.90,
  one corpus scan. This is the artifact a data engineer reads to pick
  the cut before running `quality_filter_chain`/`token_budget_selection`.
- `normalized_dedup` — exact dedup AFTER aggressive text
  normalization (lowercase, strip punctuation, collapse whitespace —
  the C4/CCNet dedup key), audited against raw exact dedup on a corpus
  with planted case/whitespace variants.
- `embedding_dim_stats` — per-dimension mean/std/min/max over the
  embedding corpus: the whitening/centering statistics the ANN ladder
  (IVF/PQ) consumes as a preprocessing table.
- `source_cap_sample` — per-source document cap (the FineWeb-style
  per-domain cap): keep the top-K docs per source by quality, report
  the kept count and retained token share per source.
- `dup_ngram_fraction` — the LAST Gopher repetition rule
  (completing `doc_repetition` = duplicate passages and
  `top_ngram_coverage` = top n-gram share): fraction of document
  characters inside DUPLICATE word n-grams for n in 5..10, with the
  published per-n breach thresholds 0.15/0.14/0.13/0.12/0.11/0.10.
- `context_window_fit` — truncation planning: docs fitting whole and
  token loss under truncate-to-window at 128/512/2048 tokens (the
  LONG-doc side of the window-size decision; padding_waste prices the
  short side, sequence_packing is the remedy).
- `cross_source_leakage` — which source pairs share documents under
  the normalized dedup key (the re-crawl / double-counting audit run
  before assigning mixture weights), with deterministic cross-source
  plants.
- `hard_negative_mining` — contrastive-pair mining over the
  embeddings: per probe anchor, the top same-label (positive) and
  top different-label (hard negative) vectors and the margin — the
  triplet/InfoNCE data-prep step, and class_separation's per-anchor
  drill-down.
- `vision_token_budget` — multimodal token accounting: per-source
  vision (ViT patch) vs text token totals through the real
  mapInPandas decode plumbing, the denominator a VLM packing step
  needs.
- `hard_negative_mining_ivf` — the mining step through the IVF index
  (nprobe=2): the documented step-down path for corpus scales where
  the per-anchor full scan is no longer affordable, made real.
- `leakage_safe_split` — cluster-aware train/val/test splitting
  (split hashed on the near-dup cluster id, so paraphrases co-travel)
  with a measured count of the clusters a naive per-doc split would
  tear across split boundaries.
- `dedup_soft_weights` — soft deduplication accounting: per
  near-dup-cluster size, raw vs 1/s-weighted effective token mass
  (the down-weight-don't-drop alternative to hard dedup).
- `lsh_band_tuning` — the (bands, rows) design table: theoretical
  S-curve collision probabilities next to measured candidate counts
  for three splits of the same 16 hashes.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark.functions import text
from etl_sh_design_spark.operators.percentile import grouped_percentiles
from etl_sh_design_spark.registry import _t, query
from etl_sh_design_spark.registry_pipeline import _TOKS, _TOKS_DUCK
from etl_sh_design_spark.registry_r5b import _scored_docs_sql
from etl_sh_design_spark.registry_r8b import DOC_NLL_CTES, doc_nll_df

# ------------------------------------------------ perplexity buckets
# Exact double literals for the tercile fractions: Python repr round-
# trips, and the SAME literal is pasted into the DuckDB SQL, so both
# engines compute pos = (n-1)*p from bit-identical inputs.
_P33 = 1.0 / 3.0
_P66 = 2.0 / 3.0

_PPLB_SQL = f"""
WITH {DOC_NLL_CTES},
thr AS (
  SELECT round(quantile_cont(doc_nll, {_P33!r}), 6) AS t33,
         round(quantile_cont(doc_nll, {_P66!r}), 6) AS t66
  FROM pd
),
b AS (
  SELECT CASE WHEN doc_nll <= t33 THEN 'head'
              WHEN doc_nll <= t66 THEN 'middle'
              ELSE 'tail' END AS bucket,
         doc_nll, round(power(2.0, doc_nll), 4) AS ppl
  FROM pd CROSS JOIN thr
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(doc_nll), 6) AS mean_nll,
       round(avg(ppl), 4) AS mean_ppl
FROM b GROUP BY 1
"""


@query("perplexity_buckets", _PPLB_SQL)
def q_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail corpus partition: bucket every document
    by its bigram-LM NLL against the exact corpus terciles (head =
    most fluent third). CCNet ships exactly this split and trains on
    head+middle; `bigram_lm_perplexity` provides the score, this
    provides the selection.

    Scale shape: the per-doc NLL sub-plan is shared with
    bigram_lm_perplexity (registry_r8b.doc_nll_df). The terciles come
    from operators/percentile.grouped_percentiles — the sort-spillable
    rank plan, NOT the banned buffering percentile — over the per-doc
    score table (corpus-sized, but one row per DOCUMENT not per
    token). The two thresholds are a 1-row broadcast crossJoin
    (lint-whitelisted); bucketing and the final 3-group rollup are
    map-side. Float discipline: thresholds and doc_nll are both
    rounded to 6 dp before the <= comparisons, and the tercile
    fractions are pasted as identical double literals into both
    engines, so pos=(n-1)*p and the interpolation are bit-identical
    (verified: the rank plan's v_lo + w*(v_hi - v_lo) equals DuckDB's
    quantile_cont on shared doubles)."""
    pd = doc_nll_df(spark, sf_dir)
    thr = (
        grouped_percentiles(
            pd.withColumn("_g", F.lit(1)), ["_g"], "doc_nll",
            {"t33": _P33, "t66": _P66},
        )
        .select(
            F.round("t33", 6).alias("t33"), F.round("t66", 6).alias("t66")
        )
    )
    b = pd.crossJoin(F.broadcast(thr)).select(
        F.when(F.col("doc_nll") <= F.col("t33"), F.lit("head"))
        .when(F.col("doc_nll") <= F.col("t66"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        "doc_nll",
        F.round(F.pow(F.lit(2.0), F.col("doc_nll")), 4).alias("ppl"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_nll"), 6).alias("mean_nll"),
        F.round(F.avg("ppl"), 4).alias("mean_ppl"),
    )


# ------------------------------------------- quality retention curve
_QRC_SQL = f"""
WITH s AS ({_scored_docs_sql()}),
f AS (SELECT unnest([0, 10, 20, 30, 40, 50, 60, 70, 80, 90]) AS thr_pct),
x AS (SELECT thr_pct, score, n_tok FROM s CROSS JOIN f)
SELECT thr_pct,
       CAST(count(CASE WHEN score >= thr_pct / 100.0e0 THEN 1 END)
            AS BIGINT) AS n_docs_kept,
       CASE WHEN sum(n_tok) > 0 THEN
         round(CAST(sum(CASE WHEN score >= thr_pct / 100.0e0
                        THEN n_tok ELSE 0 END) AS DOUBLE)
               / sum(n_tok), 6) END AS token_retention
FROM x GROUP BY 1
"""


@query("quality_retention_curve", _QRC_SQL)
def q_quality_retention_curve(spark, sf_dir):
    """The filter-design selection curve: for every quality-score
    threshold in {0.00, 0.10, ..., 0.90}, how many documents survive
    `score >= thr` and what fraction of corpus TOKENS they retain.
    This is the one-scan artifact read to choose the cut point before
    committing to `quality_filter_chain` — published pipelines (C4,
    Gopher, FineWeb) all tune their quality cuts against exactly this
    doc-vs-token retention trade.

    Scale shape: score and token count are map-side expressions
    (functions/text.quality_score — pure F.* codegen); the 10x
    threshold fan-out is a map-side explode of a literal array; the
    rollup has exactly 10 groups with map-side partials, so the
    shuffle is 10 rows per task regardless of corpus size. Integer
    thresholds (thr_pct) keep the group key and the thr_pct/100.0
    comparison bit-identical cross-engine; score is the fuzzed
    round-6dp composite shared with every other quality query."""
    d = _t(spark, sf_dir, "documents")
    s = d.select(
        text.token_count("text").cast("bigint").alias("n_tok"),
        text.quality_score("text").alias("score"),
    )
    x = s.withColumn(
        "thr_pct", F.explode(F.array(*[F.lit(k) for k in range(0, 100, 10)]))
    )
    kept = F.col("score") >= F.col("thr_pct") / 100.0
    return x.groupBy("thr_pct").agg(
        F.count(F.when(kept, 1)).alias("n_docs_kept"),
        F.when(
            F.sum("n_tok") > 0,
            F.round(
                F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).cast("double")
                / F.sum("n_tok"),
                6,
            ),
        ).alias("token_retention"),
    )


# ------------------------------------------------ normalized dedup
# The C4/CCNet dedup key: lowercase, strip punctuation, collapse
# whitespace. The whitespace class is EXPLICIT instead of \s because
# the engines' \s disagree on one character: Java's includes U+000B
# (vertical tab) while RE2's does not (ADVICE r8) — a document
# containing \x0B would normalize differently cross-engine. The
# explicit class is Java's definition, spelled identically in both.
# Java \s: [ \t\n\x0B\f\r]. Spark SQL string literals eat one level
# of backslash, so the Spark spelling doubles them; DuckDB's regexp
# functions get the regex verbatim.
_WS_SPARK = r"\\t\\n\\f\\r\\x0B "
_WS_DUCK = r"\t\n\f\r\x0B "
_NORM_SPARK = (
    f"trim(regexp_replace(regexp_replace(lower(text), '[^\\\\w{_WS_SPARK}]', ''), "
    f"'[{_WS_SPARK}]+', ' '))"
)
_NORM_DUCK = (
    rf"trim(regexp_replace(regexp_replace(lower(text), '[^\w{_WS_DUCK}]', '', 'g'), "
    rf"'[{_WS_DUCK}]+', ' ', 'g'))"
)

# Planted fixture (the registry's standard deterministic-variant
# idiom, cf. semantic_decontamination's panel): every doc_id % 10 == 0
# document gets a re-cased, whitespace-padded twin — invisible to raw
# exact dedup, collapsed by the normalized key.
_NORM_PLANT_DUCK = """
SELECT doc_id, source, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, source,
       upper(text) || '  ' AS text
FROM documents WHERE doc_id % 10 = 0
"""

_ND_SQL = f"""
WITH corpus AS ({_NORM_PLANT_DUCK}),
h AS (
  SELECT source, md5(text) AS h_raw, md5({_NORM_DUCK}) AS h_norm
  FROM corpus
),
c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT h_raw) AS BIGINT) AS n_exact,
         CAST(count(DISTINCT h_norm) AS BIGINT) AS n_norm
  FROM h GROUP BY 1
)
SELECT source, n_docs, n_exact, n_norm,
       round(1.0e0 - CAST(n_norm AS DOUBLE) / n_docs, 6) AS norm_dup_ratio
FROM c
"""


@query("normalized_dedup", _ND_SQL)
def q_normalized_dedup(spark, sf_dir):
    """Exact dedup after aggressive text normalization — the C4/CCNet
    dedup key (lowercase -> strip punctuation -> collapse whitespace),
    audited per source against RAW exact dedup. The corpus is the
    documents table plus a planted re-cased/whitespace-padded twin of
    every doc_id % 10 == 0 document (the registry's deterministic
    near-dup fixture idiom), so the gap n_exact - n_norm is the
    measured catch of the normalization layer: raw hashing misses all
    planted twins, the normalized key collapses every one.

    Scale shape: normalization and both md5 keys are map-side codegen
    expressions; the per-source distinct counts shuffle on
    (source, hash) with partial aggregation (Spark plans the two
    COUNT(DISTINCT) via expand + two-stage agg — no value buffering);
    nothing is corpus-sized on any single node. At 100 TB this is the
    same plan as `dedup_exact` with a cheaper key-side expression."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    planted = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "source",
        F.concat(F.upper("text"), F.lit("  ")).alias("text"),
    )
    corpus = d.unionByName(planted)
    h = corpus.select(
        "source",
        F.md5("text").alias("h_raw"),
        F.md5(F.expr(_NORM_SPARK)).alias("h_norm"),
    )
    c = h.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h_raw").alias("n_exact"),
        F.countDistinct("h_norm").alias("n_norm"),
    )
    return c.select(
        "source",
        "n_docs",
        "n_exact",
        "n_norm",
        F.round(
            F.lit(1.0) - F.col("n_norm").cast("double") / F.col("n_docs"), 6
        ).alias("norm_dup_ratio"),
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


# ---------------------------------------------- dup n-gram fraction
# Gopher-published breach thresholds for the duplicate-n-gram rule
_DUP_THR = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}

# stride-1 n-gram stream, duplicates KEPT (unlike the MinHash
# shingler's array_distinct — multiplicity IS the signal here)
_DUP_GRAMS = (
    "transform(sequence(1, size(toks) - n + 1), "
    "i -> concat_ws(' ', slice(toks, i, n)))"
)

_DUP_THR_CASE = " ".join(
    f"WHEN {n} THEN {thr}" for n, thr in _DUP_THR.items()
)

_DUP_SQL = f"""
WITH t AS (SELECT doc_id, source, n_chars, {_TOKS_DUCK} AS toks FROM documents),
nn AS (SELECT doc_id, source, n_chars, toks,
              unnest([5, 6, 7, 8, 9, 10]) AS n FROM t),
g AS (
  SELECT doc_id, source, n_chars, n,
         unnest(list_transform(range(1, len(toks) - n + 2),
                i -> array_to_string(toks[i : i + n - 1], ' '))) AS gram
  FROM nn WHERE len(toks) >= n
),
c AS (
  SELECT doc_id, source, n_chars, n, gram, count(*) AS cnt
  FROM g GROUP BY ALL
),
d AS (
  SELECT doc_id, source, n,
         least(1.0e0,
               CAST(coalesce(sum(CASE WHEN cnt >= 2
                                 THEN cnt * length(gram) END), 0)
                    AS DOUBLE) / max(n_chars)) AS coverage
  FROM c GROUP BY 1, 2, 3
)
SELECT source, n, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(coverage), 6) AS avg_coverage,
       round(avg(CASE WHEN coverage > (CASE n {_DUP_THR_CASE} END)
                 THEN 1.0e0 ELSE 0.0e0 END), 6) AS breach_ratio
FROM d GROUP BY 1, 2
"""


@query("dup_ngram_fraction", _DUP_SQL)
def q_dup_ngram_fraction(spark, sf_dir):
    """Duplicate n-gram character fraction — the last Gopher
    repetition rule (Rae et al. 2021, Table A1): per document and
    n in 5..10, the fraction of characters covered by word n-grams
    that occur MORE THAN ONCE in the document (all occurrences
    counted, capped at 1.0 since overlapping occurrences can exceed
    the text length), aggregated per source with the published breach
    thresholds (0.15 down to 0.10). Together with `doc_repetition`
    (duplicate passages) and `top_ngram_coverage` (single most
    frequent n-gram) this completes the published repetition battery.

    Scale shape: MAP-ONLY on the Spark side — no gram ever reaches an
    exchange. The n fan-out (x6) is a literal-array explode; the
    stride-1 gram stream stays an IN-ROW array that one
    array_sort + aggregate pass run-length encodes, accumulating
    sum(run * length(gram)) over runs with run >= 2 (the same
    one-sorted-pass idiom as functions/text.char_entropy, staged so
    the tokenizing split evaluates once per row — Catalyst does no
    CSE across HOF lambda bodies). The only shuffle is the 6-groups-
    per-source rollup with map-side partials. The DuckDB twin keeps
    the relational explode/group form — sum over distinct grams of
    cnt * length(gram) with cnt >= 2 is algebraically the run-length
    mass. Coverage is exact-integer until one correctly-rounded
    division, so the breach comparison is bit-deterministic
    cross-engine; the first run-length draft was the shuffle form and
    measured 7.6 s at sf0.1 / 19.1 s at 10x — the map-only form is
    what ships."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", "n_chars", F.expr(_TOKS).alias("toks")
    ).withColumn(
        "n", F.explode(F.array(*[F.lit(n) for n in range(5, 11)]))
    )
    grams = toks.filter(F.size("toks") >= F.col("n")).select(
        "source",
        "n_chars",
        "n",
        F.expr(f"array_sort({_DUP_GRAMS})").alias("gs"),
    )
    dup_mass = (
        "aggregate(gs, "
        "struct(CAST('' AS STRING) AS prev, CAST(0 AS BIGINT) AS run, "
        "CAST(0 AS BIGINT) AS mass), "
        "(acc, g) -> struct(g AS prev, "
        "IF(g = acc.prev, acc.run + 1, CAST(1 AS BIGINT)) AS run, "
        "acc.mass + IF(g != acc.prev AND acc.run >= 2, "
        "acc.run * length(acc.prev), CAST(0 AS BIGINT)) AS mass), "
        "acc -> acc.mass + IF(acc.run >= 2, "
        "acc.run * length(acc.prev), CAST(0 AS BIGINT)))"
    )
    cov = grams.select(
        "source",
        "n",
        F.least(
            F.lit(1.0),
            F.expr(dup_mass).cast("double") / F.col("n_chars"),
        ).alias("coverage"),
    )
    thr = F.col("n")
    case = None
    for n, t in _DUP_THR.items():
        case = (
            F.when(thr == n, F.lit(t))
            if case is None
            else case.when(thr == n, F.lit(t))
        )
    return cov.groupBy("source", "n").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("coverage"), 6).alias("avg_coverage"),
        F.round(
            F.avg((F.col("coverage") > case).cast("double")), 6
        ).alias("breach_ratio"),
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
_XSL_PLANT_DUCK = """
SELECT doc_id, source, text FROM documents
UNION ALL
SELECT d.doc_id + 2000000 AS doc_id, o.source,
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
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    nxt = d.select((F.col("doc_id") - 1).alias("doc_id"), F.col("source").alias("next_source"))
    planted = (
        d.filter(F.col("doc_id") % 10 == 0)
        .join(nxt, "doc_id")
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
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


# --------------------------------------------- hard-negative mining
from etl_sh_design_spark.registry_r8b import (  # noqa: E402
    _SD_DOT,
    _SD_DOT_DUCK,
    _SD_NORM,
    _SD_NORM_DUCK,
)

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

        from etl_sh_design_spark.operators.similarity import (
            session_broadcast_panel,
        )

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


# ---------------------------------------------- vision token budget
from etl_sh_design_spark.operators import multimodal  # noqa: E402

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


# ------------------------------------- hard-negative mining, IVF path
from etl_sh_design_spark.operators.similarity import (  # noqa: E402
    _dot,
    _norm,
    ivf_assign,
)
from etl_sh_design_spark.registry_ext import _N_CENTROIDS, _VE  # noqa: E402

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


# ---------------------------------------------- leakage-safe split
from etl_sh_design_spark.operators.dedup import MD5_INT64_SQL, md5_int64  # noqa: E402
from etl_sh_design_spark.registry_ext import (  # noqa: E402
    _DEDUP_CLOSURE_CTE,
    dedup_components,
)

_H_COMP = MD5_INT64_SQL.format(x="'split:' || CAST(component AS VARCHAR)")
_H_DOC = MD5_INT64_SQL.format(x="'split:' || CAST(doc_id AS VARCHAR)")

_LSS_SQL = (
    _DEDUP_CLOSURE_CTE
    + f"""
, assign AS (
  SELECT doc_id, component,
         CASE WHEN {_H_COMP} % 100 < 90 THEN 'train'
              WHEN {_H_COMP} % 100 < 95 THEN 'val'
              ELSE 'test' END AS split,
         CASE WHEN {_H_DOC} % 100 < 90 THEN 'train'
              WHEN {_H_DOC} % 100 < 95 THEN 'val'
              ELSE 'test' END AS naive_split
  FROM comp
),
cl AS (
  SELECT component, any_value(split) AS split,
         count(*) AS n,
         count(DISTINCT naive_split) AS n_naive_splits
  FROM assign GROUP BY 1
)
SELECT split, CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(CASE WHEN n_naive_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS naive_straddled_clusters
FROM cl GROUP BY 1
"""
)


@query("leakage_safe_split", _LSS_SQL)
def q_leakage_safe_split(spark, sf_dir):
    """Cluster-aware (leakage-safe) train/val/test splitting: assign
    the split by hashing the near-dup CLUSTER's canonical id, so a
    document and its near-duplicates always co-travel — the splitting
    discipline that stops eval leakage through paraphrases the plain
    per-doc hash split (`dataset_split`) cannot see. The output also
    MEASURES the hazard: `naive_straddled_clusters` counts, per
    split, the multi-doc clusters the naive doc-hash assignment
    would have torn across split boundaries (each one a train/test
    leak).

    Scale shape: reuses the dedup family's memoized component
    sub-plan (MinHash -> LSH bands -> threshold pairs -> min-label
    components; every stage bucketed, operators/graph.py); the split
    assignment is a map-side hash of the component id; the rollup
    groups on 3 splits with map-side partials. Determinism: the
    split hash is the registry's salted md5-int64 idiom — a pure
    function of ids, stable across engines, runs, and incremental
    re-processing."""
    comp = dedup_components(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )

    def _split(col):
        h = md5_int64(F.concat(F.lit("split:"), col.cast("string"))) % 100
        return F.when(h < 90, "train").when(h < 95, "val").otherwise("test")

    assign = comp.select(
        "doc_id",
        "component",
        _split(F.col("component")).alias("split"),
        _split(F.col("doc_id")).alias("naive_split"),
    )
    # `split` is a pure function of `component`, so grouping BY it is
    # row-identical to any_value()-ing it — and keeps the aggregate
    # hash-based (a string agg BUFFER forces SortAggregate).
    cl = assign.groupBy("component", "split").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("naive_split").alias("n_naive_splits"),
    )
    return cl.groupBy("split").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum((F.col("n_naive_splits") > 1).cast("bigint")).alias(
            "naive_straddled_clusters"
        ),
    )


# ---------------------------------------------- soft-dedup weights
_SDW_SQL = (
    _DEDUP_CLOSURE_CTE
    + f"""
, toks AS (
  SELECT doc_id, len(list_filter(string_split_regex(text, '\\s+'),
                    t -> t != '')) AS n_tok
  FROM corpus
),
sized AS (
  SELECT c.component, count(*) OVER (PARTITION BY c.component) AS size,
         t.n_tok
  FROM comp c JOIN toks t USING (doc_id)
)
SELECT size AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) / size AS BIGINT) AS n_clusters,
       CAST(sum(n_tok) AS BIGINT) AS raw_tokens,
       round(sum(CAST(n_tok AS DOUBLE) / size), 4) AS effective_tokens
FROM sized GROUP BY 1
"""
)


@query("dedup_soft_weights", _SDW_SQL)
def q_dedup_soft_weights(spark, sf_dir):
    """Soft deduplication accounting — the down-weight-don't-drop
    alternative to hard dedup: every document in a near-dup cluster
    of size s trains with weight 1/s, so a cluster contributes one
    document's worth of gradient regardless of how many copies were
    crawled. Per cluster size: docs, clusters, raw token mass, and
    the EFFECTIVE token mass under 1/s weighting — the table that
    prices how much of the corpus hard dedup would have deleted vs
    how much signal soft dedup retains.

    Scale shape: reuses the dedup family's memoized component
    sub-plan; the size is a component-keyed window (cluster-bounded
    partitions), the token count is map-side, and the rollup groups
    on cluster size (a small integer domain) with map-side partials.
    Exact integer arithmetic until the one weighted sum, rounded
    4 dp on both engines."""
    comp = dedup_components(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )
    from etl_sh_design_spark.registry_ext import _corpus_mutated

    toks = _corpus_mutated(spark, sf_dir).select(
        "doc_id", F.size(F.expr(_TOKS)).alias("n_tok")
    )
    wsz = W.partitionBy("component")
    sized = comp.join(toks, "doc_id").withColumn(
        "size", F.count(F.lit(1)).over(wsz)
    )
    return sized.groupBy(F.col("size").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) / F.first("size")).cast("bigint").alias("n_clusters"),
        F.sum("n_tok").cast("bigint").alias("raw_tokens"),
        F.round(
            F.sum(F.col("n_tok").cast("double") / F.col("size")), 4
        ).alias("effective_tokens"),
    )


# ---------------------------------------------- LSH band tuning
from etl_sh_design_spark.operators.dedup import word_shingles_sql  # noqa: E402
from etl_sh_design_spark.registry_ext import (  # noqa: E402
    CORPUS_MUTATED_SQL,
    _H_SEED_SHINGLE,
    dedup_signatures,
)

_LBT_CONFIGS = [(8, 2), (4, 4), (2, 8)]  # (n_bands, band_rows), b*r = 16

_LBT_SQL = f"""
WITH corpus AS ({CORPUS_MUTATED_SQL}),
sh AS ({word_shingles_sql("corpus")}),
sig AS (
  SELECT doc_id, seed, min({_H_SEED_SHINGLE}) AS minh
  FROM sh CROSS JOIN (SELECT CAST(range AS INT) AS seed FROM range(0, 16))
  GROUP BY 1, 2
),
configs AS (SELECT * FROM (VALUES (8, 2), (4, 4), (2, 8)) c(b, r)),
bands AS (
  SELECT c.b, c.r, s.doc_id, CAST(floor(s.seed / c.r) AS BIGINT) AS band,
         string_agg(CAST(s.minh AS VARCHAR), ',' ORDER BY s.seed) AS band_key
  FROM sig s CROSS JOIN configs c
  GROUP BY 1, 2, 3, 4
),
cand AS (
  SELECT DISTINCT x.b, x.r, x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y
    ON x.b = y.b AND x.r = y.r AND x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
)
SELECT c.b AS n_bands, c.r AS band_rows,
       round(1 - power(1 - power(0.5, c.r), c.b), 6) AS p_at_05,
       round(1 - power(1 - power(0.7, c.r), c.b), 6) AS p_at_07,
       round(1 - power(1 - power(0.9, c.r), c.b), 6) AS p_at_09,
       CAST(count(cand.id_a) AS BIGINT) AS n_candidates
FROM configs c LEFT JOIN cand ON cand.b = c.b AND cand.r = c.r
GROUP BY 1, 2
"""


@query("lsh_band_tuning", _LBT_SQL)
def q_lsh_band_tuning(spark, sf_dir):
    """The LSH banding design table — the tuning artifact every
    MinHash-LSH deployment derives before fixing (bands, rows): for
    each (b, r) split of the same 16 hashes, the THEORETICAL S-curve
    collision probability 1-(1-J^r)^b at J in {0.5, 0.7, 0.9} next to
    the MEASURED candidate-pair count on the corpus. Read beside
    `minhash_estimate_error` (est-vs-exact) and `lsh_recall_eval`
    (banding recall): together they close the sketch-quality
    dashboard — (8,2) recalls weak pairs at the cost of candidates,
    (2,8) prunes hard, (4,4) is the engine's shipped default.

    Scale shape: ONE signature pass (the dedup family's memoized
    table) feeds all three configurations; band keys are in-row array
    slices, the per-config bucket self-joins shuffle band keys (hash
    equi-joins on (band, band_key) — the same candidate generation
    contract as minhash_lsh_pairs, x3), and each config collapses to
    one count row. The theory columns are pure double arithmetic
    computed identically by both engines (round 6 dp)."""
    sig = dedup_signatures(spark, sf_dir)  # (doc_id, sig[16]) memoized
    parts = []
    for b, r in _LBT_CONFIGS:
        band_structs = [
            F.struct(
                F.lit(j).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col("sig")[i].cast("string")
                        for i in range(j * r, (j + 1) * r)
                    ],
                ).alias("band_key"),
            )
            for j in range(b)
        ]
        banded = sig.select(
            "doc_id", F.explode(F.array(*band_structs)).alias("bk")
        ).select(
            "doc_id",
            F.col("bk.band").alias("band"),
            F.col("bk.band_key").alias("band_key"),
        )
        a = banded.select(
            F.col("doc_id").alias("id_a"), "band", "band_key"
        )
        bb = banded.select(
            F.col("doc_id").alias("id_b"), "band", "band_key"
        )
        pairs = (
            a.join(bb, ["band", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        parts.append(
            pairs.agg(F.count(F.lit(1)).alias("n_candidates")).select(
                F.lit(b).alias("n_bands"),
                F.lit(r).alias("band_rows"),
                F.col("n_candidates").cast("bigint").alias("n_candidates"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    theory = lambda j: F.round(  # noqa: E731
        1
        - F.pow(
            1 - F.pow(F.lit(j), F.col("band_rows")), F.col("n_bands")
        ),
        6,
    )
    return out.select(
        "n_bands",
        "band_rows",
        theory(0.5).alias("p_at_05"),
        theory(0.7).alias("p_at_07"),
        theory(0.9).alias("p_at_09"),
        "n_candidates",
    )
