"""Round-5 (late) extension registry: corpus selection under a token
budget, robust (MAD) outlier detection, the BPE compression curve, and
boilerplate-prefix cluster detection.

These add the *selection / health-check* half of a training-data
pipeline that the earlier rounds' dedup / scoring / mixture operators
feed into:
- `token_budget_selection` — given per-doc quality scores and token
  counts, pick the best documents whose tokens fit a global budget
  (the final step of corpus curation). Computed WITHOUT a global
  single-partition sort: the distributed range-rank pattern from
  `registry_wide.q_ntile`, generalized from prefix-counts to prefix
  token SUMS.
- `mad_outliers_events` — median/MAD robust z-scores per event type
  (Iglewicz-Hoaglin modified z, |z| > 3.5), the metric-sanity check a
  pipeline runs on telemetry before trusting its own throughput stats.
- `bpe_compression_curve` — corpus total-symbol count after 0, 1 and
  2 learned BPE merges (reuses `registry_r5.bpe_learn_merges`'s
  machinery): measures how much each induced vocabulary entry
  actually compresses the corpus.
- `boilerplate_prefix_clusters` — documents sharing an identical
  leading-token prefix form template clusters (web boilerplate
  detection); per-source counts of templated docs and clusters.

Hash discipline follows the repo contract (registry.py header): exact
integers stay BIGINT, doubles rounded 6dp on both engines, selection
orders are fully tie-broken.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark.functions import text
from etl_sh_design_spark.registry import _t, query
from etl_sh_design_spark.registry_ext import _STOP
from etl_sh_design_spark.registry_r5 import (
    _bpe_apply_merge,
    _bpe_pair_counts,
    _TOKS,
    _TOKS_DUCK,
)

# --------------------------------------------------------------------
# shared oracle fragments
# --------------------------------------------------------------------

# Per-doc (n_tok, quality score, content hash) — the same composite
# score (and the same DuckDB spelling) as registry_ext.q_text_quality's
# oracle, parameterized by source relation so the e2e pipeline can
# score an augmented corpus CTE.


def _scored_docs_sql(src: str = "documents") -> str:
    return f"""
  SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
         round((least(n_tok / 100.0e0, 1.0e0)
                + greatest(0.0e0, 1.0e0 - 4.0e0 * punct_ratio)
                + least(1.0e0, 4.0e0 * stop_ratio)) / 3.0e0, 6) AS score,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
  FROM (
    SELECT doc_id, source, text, len(toks) AS n_tok,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, t -> list_contains({_STOP}, t))) AS DOUBLE) / len(toks)
                ELSE 0.0e0 END AS stop_ratio,
           CASE WHEN length(text) > 0
                THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text)
                ELSE 0.0e0 END AS punct_ratio
    FROM (SELECT doc_id, source, text,
                 list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
          FROM {src})
  )
"""


_SCORED_DOCS_SQL = _scored_docs_sql()


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
    id (the `registry_wide.q_ntile` distributed range-rank pattern,
    generalized from counts to sums). Budget arithmetic is exact
    integer, so both engines cut at the same document."""
    p = spark.sparkContext.defaultParallelism
    # Pin the sampled range boundaries: `parts` feeds both the
    # subtotal collect and the final plan (cf. registry_wide.q_ntile).
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
    of `registry_wide.q_ntile`, generalized from counts to sums.)
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
# robust (median / MAD) outlier detection
# --------------------------------------------------------------------

@query(
    "mad_outliers_events",
    """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, median(ad) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(max(d.med), 6) AS med,
       round(max(m2.mad), 6) AS mad,
       CAST(sum(CASE WHEN 0.6745e0 * d.ad > 3.5e0 * m2.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(max(CASE WHEN m2.mad > 0 THEN 0.6745e0 * d.ad / m2.mad ELSE 0.0e0 END), 6) AS max_abs_z
FROM dev d JOIN mad m2 USING (event_type)
GROUP BY 1
""",
)
def q_mad_outliers_events(spark, sf_dir):
    """Robust outlier detection per event type: Iglewicz-Hoaglin
    modified z-score 0.6745*(x - median)/MAD, flagging |z| > 3.5.
    Median/MAD resist the very outliers they hunt (unlike mean/stddev,
    cf. `stats_summary`) — the standard telemetry-sanity check before
    trusting pipeline throughput metrics.

    Both engines compute the EXACT interpolated median (DuckDB
    `median` = percentile_cont; Spark via the sort-spillable rank plan
    in operators/percentile.grouped_percentiles — the buffering
    `percentile()` aggregate would hold an entire event_type's values
    in one executor at 100 TB and is plan-lint-banned), so the oracle
    hash-matches. Two |E|-keyed shuffles (median, then MAD over
    deviations) and a broadcast of the per-type medians.
    """
    from etl_sh_design_spark.operators.percentile import grouped_percentiles

    e = _t(spark, sf_dir, "events")
    med = grouped_percentiles(e, ["event_type"], "value", {"med": 0.5})
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = grouped_percentiles(dev, ["event_type"], "ad", {"mad": 0.5})
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(
                    F.lit(0.6745) * F.col("ad") > F.lit(3.5) * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.round(
                F.max(
                    F.when(
                        F.col("mad") > 0,
                        F.lit(0.6745) * F.col("ad") / F.col("mad"),
                    ).otherwise(F.lit(0.0))
                ),
                6,
            ).alias("max_abs_z"),
        )
    )


# --------------------------------------------------------------------
# BPE compression curve
# --------------------------------------------------------------------

_BPE_W_SQL = r"""
  SELECT token, count(*) AS cnt, regexp_replace(token, '(.)', '|\1|', 'g') AS ws
  FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS token
        FROM documents)
  WHERE regexp_matches(token, '^[a-z]+$') AND len(token) >= 2
  GROUP BY 1
"""

def _bpe_stats_duck(rank: int, src: str) -> str:
    # DuckDB: total symbols is Σ cnt·|syms|; distinct symbol types via
    # an unnest. Written without LATERAL for broad version support.
    return f"""
  SELECT {rank} AS n_merges,
         (SELECT CAST(sum(cnt * len(string_split(trim(ws, '|'), '||'))) AS BIGINT) FROM {src}) AS total_symbols,
         (SELECT CAST(count(DISTINCT sym) AS BIGINT)
          FROM (SELECT unnest(string_split(trim(ws, '|'), '||')) AS sym FROM {src})) AS distinct_symbols
"""


@query(
    "bpe_compression_curve",
    f"""
WITH w AS ({_BPE_W_SQL}),
p1 AS (
  SELECT p.a AS a, p.b AS b, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM (
    SELECT cnt, unnest(list_transform(range(1, len(syms)),
                 i -> {{'a': syms[i], 'b': syms[i + 1]}})) AS p
    FROM (SELECT cnt, string_split(trim(ws, '|'), '||') AS syms FROM w)
  )
  GROUP BY 1, 2
),
b1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
w2 AS (
  SELECT w.cnt,
         replace(w.ws, '|' || b1.a || '||' || b1.b || '|',
                 '|' || b1.a || b1.b || '|') AS ws
  FROM w CROSS JOIN b1
),
p2 AS (
  SELECT p.a AS a, p.b AS b, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM (
    SELECT cnt, unnest(list_transform(range(1, len(syms)),
                 i -> {{'a': syms[i], 'b': syms[i + 1]}})) AS p
    FROM (SELECT cnt, string_split(trim(ws, '|'), '||') AS syms FROM w2)
  )
  GROUP BY 1, 2
),
b2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
w3 AS (
  SELECT w2.cnt,
         replace(w2.ws, '|' || b2.a || '||' || b2.b || '|',
                 '|' || b2.a || b2.b || '|') AS ws
  FROM w2 CROSS JOIN b2
)
{_bpe_stats_duck(0, "w")}
UNION ALL
{_bpe_stats_duck(1, "w2")}
UNION ALL
{_bpe_stats_duck(2, "w3")}
""",
)
def q_bpe_compression_curve(spark, sf_dir):
    """How much does each learned BPE merge actually compress the
    corpus? Reports total corpus symbol count (Σ word_freq × symbols)
    and distinct symbol-type count after 0, 1 and 2 merge rounds —
    the curve tokenizer training monitors to decide vocabulary size.

    Reuses `registry_r5.bpe_learn_merges`' round machinery (winner
    selection + codegen `replace` merge application); the added stats
    pass per round is one vocab-sized aggregation over the word table
    (distinct words × counts — the only state, exactly what streams
    between rounds in a production BPE trainer at 100 TB).
    """
    d = _t(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(F.expr(_TOKS)).alias("token"))
        .filter(F.col("token").rlike("^[a-z]+$") & (F.length("token") >= 2))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "cnt",
            F.regexp_replace(F.col("token"), "(.)", r"|$1|").alias("ws"),
        )
        .localCheckpoint(eager=False)
    )

    def stats(words, rank: int):
        syms = words.select(
            "cnt",
            F.expr(r"split(trim(BOTH '|' FROM ws), '\\|\\|')").alias("syms"),
        )
        tot = syms.agg(
            (F.sum(F.col("cnt") * F.size("syms"))).cast("bigint").alias("total_symbols")
        )
        dis = (
            syms.select(F.explode("syms").alias("sym"))
            .agg(F.countDistinct("sym").cast("bigint").alias("distinct_symbols"))
        )
        return tot.crossJoin(dis).select(
            F.lit(rank).alias("n_merges"), "total_symbols", "distinct_symbols"
        )

    out = stats(w, 0)
    cur = w
    for r in (1, 2):
        b = (
            _bpe_pair_counts(cur)
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        cur = _bpe_apply_merge(cur, b).localCheckpoint(eager=False)
        out = out.unionByName(stats(cur, r))
    return out


# --------------------------------------------------------------------
# boilerplate-prefix template clusters
# --------------------------------------------------------------------

_PFX_LEN = 2  # leading tokens forming the template key (synthetic
# corpus vocabulary is small, so 2 tokens already yields real clusters;
# web-scale boilerplate detection would use 8-16)


@query(
    "boilerplate_prefix_clusters",
    f"""
WITH pre AS (
  SELECT doc_id, source,
         array_to_string(({_TOKS_DUCK})[1:{_PFX_LEN}], ' ') AS prefix
  FROM documents
),
cl AS (SELECT prefix, count(*) AS sz FROM pre GROUP BY 1)
SELECT p.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c.sz >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS templated_docs,
       CAST(count(DISTINCT CASE WHEN c.sz >= 3 THEN p.prefix END) AS BIGINT) AS n_template_clusters,
       CAST(max(c.sz) AS BIGINT) AS max_cluster_size
FROM pre p JOIN cl c USING (prefix)
GROUP BY 1
""",
)
def q_boilerplate_prefix_clusters(spark, sf_dir):
    """Template/boilerplate detection: documents opening with an
    identical leading-token prefix form a cluster; clusters of >= 3
    docs are flagged as templated (the shared-header/nav-bar pattern
    web-crawl pipelines strip before dedup). Per source: doc count,
    templated docs, template clusters touched, largest cluster.

    One prefix-keyed aggregation builds the cluster-size table (it is
    distinct-prefix-sized, FAR smaller than the corpus), which joins
    back to the docs — broadcastable when small, plain shuffle-join
    otherwise; either way no all-pairs comparison anywhere.
    """
    d = _t(spark, sf_dir, "documents")
    pre = d.select(
        "doc_id",
        "source",
        F.array_join(F.slice(F.expr(_TOKS), 1, _PFX_LEN), " ").alias("prefix"),
    )
    cl = pre.groupBy("prefix").agg(F.count(F.lit(1)).alias("sz"))
    return (
        pre.join(cl, "prefix")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("sz") >= 3, 1).otherwise(0))
            .cast("bigint")
            .alias("templated_docs"),
            F.countDistinct(F.when(F.col("sz") >= 3, F.col("prefix")))
            .cast("bigint")
            .alias("n_template_clusters"),
            F.max("sz").cast("bigint").alias("max_cluster_size"),
        )
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

_SNAP_V2_SQL = """
  SELECT doc_id, source,
         CASE WHEN doc_id % 11 = 5 THEN text || ' edited' ELSE text END AS text
  FROM documents WHERE doc_id % 17 <> 3
  UNION ALL
  SELECT doc_id + 1000000, source, text || ' new'
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
    d = _t(spark, sf_dir, "documents")
    v1 = d.select("doc_id", "source", F.md5("text").alias("h"))
    v2 = (
        d.filter(F.col("doc_id") % 17 != 3)
        .select(
            "doc_id",
            "source",
            F.md5(
                F.when(
                    F.col("doc_id") % 11 == 5, F.concat("text", F.lit(" edited"))
                ).otherwise(F.col("text"))
            ).alias("h"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 13 == 7).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                "source",
                F.md5(F.concat("text", F.lit(" new"))).alias("h"),
            )
        )
    )
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
# cloned at +2_000_000) so the dedup stage demonstrably removes rows —
# the raw synthetic corpus has no verbatim dups.
_E2E_CORPUS_SQL = """
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, source, text FROM documents WHERE doc_id % 19 = 4
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
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 19 == 4).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "source", "text"
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


# --------------------------------------------------------------------
# per-source quality calibration (winsorize + min-max normalize)
# --------------------------------------------------------------------

@query(
    "quality_calibration_sources",
    f"""
WITH scored AS ({_SCORED_DOCS_SQL}),
pct AS (
  SELECT source,
         quantile_cont(score, 0.05e0) AS p05,
         quantile_cont(score, 0.95e0) AS p95
  FROM scored GROUP BY 1
)
SELECT s.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(max(p.p05), 6) AS p05,
       round(max(p.p95), 6) AS p95,
       CAST(sum(CASE WHEN s.score < p.p05 OR s.score > p.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       round(avg(CASE WHEN p.p95 > p.p05
                      THEN least(greatest(s.score, p.p05), p.p95) / (p.p95 - p.p05)
                           - p.p05 / (p.p95 - p.p05)
                      ELSE 0.5e0 END), 6) AS mean_calibrated
FROM scored s JOIN pct p USING (source)
GROUP BY 1
""",
)
def q_quality_calibration_sources(spark, sf_dir):
    """Per-source score calibration: winsorize the composite quality
    score at the source's [p05, p95] and min-max normalize into
    [0, 1] — the standard step before quality scores from different
    domains are compared on one axis (a web source's 0.6 is not a
    books corpus's 0.6). Reports the calibration table (p05/p95), the
    clipped-doc count, and the post-calibration mean per source.

    Exact interpolated percentiles on both engines (DuckDB
    `quantile_cont`; Spark via the sort-spillable rank plan in
    operators/percentile.grouped_percentiles — the buffering
    `percentile()` aggregate is plan-lint-banned for huge-group
    safety); the normalization runs as one expression with identical
    operation order on both sides, and the mean is rounded 6dp
    (accumulation-order discipline). Two source-keyed shuffles
    (percentile, final agg) plus a broadcast of the |sources|
    calibration table.
    """
    from etl_sh_design_spark.operators.percentile import grouped_percentiles

    d = _t(spark, sf_dir, "documents")
    # Round 13 (guide §5 reuse): `scored` feeds BOTH the percentile
    # pass and the calibration join — without the cache the expensive
    # text scoring ran twice over the corpus. The cached projection is
    # two narrow columns (source, score); at 100 TB this is the
    # standard reuse-vs-recompute trade for a scan whose per-row work
    # (the composite quality score) dominates.
    scored = d.select(
        "source",
        text.quality_score("text").alias("score"),
    ).cache()
    pct = grouped_percentiles(scored, ["source"], "score", {"p05": 0.05, "p95": 0.95})
    j = scored.join(F.broadcast(pct), "source")
    calibrated = F.when(
        F.col("p95") > F.col("p05"),
        F.least(F.greatest(F.col("score"), F.col("p05")), F.col("p95"))
        / (F.col("p95") - F.col("p05"))
        - F.col("p05") / (F.col("p95") - F.col("p05")),
    ).otherwise(F.lit(0.5))
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.max("p05"), 6).alias("p05"),
        F.round(F.max("p95"), 6).alias("p95"),
        F.sum(
            F.when(
                (F.col("score") < F.col("p05")) | (F.col("score") > F.col("p95")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_clipped"),
        F.round(F.avg(calibrated), 6).alias("mean_calibrated"),
    )
