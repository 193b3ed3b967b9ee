"""Queries that score or describe documents: the heuristic quality
signals and their calibration, drift and A/B monitors, bigram-LM
perplexity, FineWeb/C4 line rules, PII redaction, character entropy,
BPE merges and compression, token statistics (KL, Zipf slope,
count-min and vocabulary coverage), and the Gopher repetition and
boilerplate rules.

Most are map-only array expressions on the document row followed by
one aggregate over a bounded key space (sources, languages, buckets):
no per-token exchange. Exact integers stay BIGINT, and doubles whose
value depends on accumulation order are rounded to 6 dp on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark.functions import text
from etl_sh_design_spark.operators.dedup import MD5_INT64_SQL, md5_int64
from etl_sh_design_spark.operators.percentile import grouped_percentiles
from etl_sh_design_spark.registry import (
    _LINES_DUCK,
    _LINES_SPARK,
    _LOWER_TOKS_DUCK,
    _SCORED_DOCS_SQL,
    _SPACE_TOKS,
    _SPACE_TOKS_DUCK,
    _STOP,
    _TOKS,
    _TOKS_DUCK,
    _V2_SRC_SQL,
    _repartitioned,
    _scored_docs_sql,
    _t,
    _v2_corpus,
    query,
)


# ------------------------------------------------------------ text analysis
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
  FROM (SELECT doc_id, text, {_LOWER_TOKS_DUCK} AS toks,
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
      FROM (SELECT lang, {_LOWER_TOKS_DUCK} AS toks FROM documents)
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
       CAST(sum(len({_LOWER_TOKS_DUCK})) AS BIGINT) AS total_tokens,
       round(avg(CAST(len({_LOWER_TOKS_DUCK}) AS DOUBLE)), 6) AS mean_tokens
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


# -------------------------- source distribution shift (KL divergence)
@query(
    "source_token_kl",
    f"""
WITH t AS (
  SELECT source, unnest({_TOKS_DUCK}) AS token FROM documents
),
sc AS (SELECT source, token, count(*) AS c FROM t GROUP BY 1, 2),
st AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot FROM sc GROUP BY 1),
gc AS (SELECT token, CAST(sum(c) AS BIGINT) AS gcnt FROM sc GROUP BY 1),
gt AS (SELECT CAST(sum(gcnt) AS BIGINT) AS gtot FROM gc)
SELECT sc.source,
       CAST(max(st.tot) AS BIGINT) AS n_tokens,
       count(*) AS vocab,
       round(sum((CAST(sc.c AS DOUBLE) / st.tot)
                 * ln((CAST(sc.c AS DOUBLE) / st.tot)
                      / (CAST(gc.gcnt AS DOUBLE) / gt.gtot))), 6) AS kl_vs_corpus,
       round(-sum((CAST(sc.c AS DOUBLE) / st.tot)
                  * ln(CAST(sc.c AS DOUBLE) / st.tot)), 6) AS entropy
FROM sc
JOIN st ON st.source = sc.source
JOIN gc ON gc.token = sc.token
CROSS JOIN gt
GROUP BY sc.source
""",
)
def q_source_token_kl(spark, sf_dir):
    """Per-source token-distribution shift vs the whole corpus:
    KL(p_source ‖ p_corpus) plus source entropy — the mixture-tuning
    diagnostic (which domain's unigram distribution is drifting).
    Shuffles are keyed by (source, token); the global token table is
    vocab-bounded and broadcast into the join, so at 100 TB the heavy
    side never re-shuffles for the corpus statistics."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.expr(_TOKS)).alias("token"))
    # (source, token) counts are (n_sources x vocab)-bounded — tiny at
    # any corpus scale — and feed FOUR consumers (per-source totals,
    # global counts, grand total, final join); checkpoint so the text
    # explode runs once, not four times (plan-audited)
    sc = (
        tok.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    st = sc.groupBy("source").agg(F.sum("c").alias("tot"))
    gc = sc.groupBy("token").agg(F.sum("c").alias("gcnt"))
    gt = gc.agg(F.sum("gcnt").alias("gtot"))
    p = F.col("c").cast("double") / F.col("tot")
    q = F.col("gcnt").cast("double") / F.col("gtot")
    return (
        sc.join(st, "source")
        .join(F.broadcast(gc), "token")
        .crossJoin(F.broadcast(gt))
        .groupBy("source")
        .agg(
            F.max("tot").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
    )


# --------------------------- BPE merge learning (vocabulary induction)
# Learn the top-2 byte-pair merges from corpus word statistics with
# both rounds unrolled — the vocabulary-induction step of tokenizer
# training (Sennrich et al. 2016), expressed declaratively. Words are
# represented as '|'-wrapped symbol strings ('|a||b|...'), where
# `replace()`'s left-to-right non-overlapping scan IS the BPE greedy
# merge (adjacent matches share no characters, and a just-merged
# symbol can't re-merge — verified identical in Spark and DuckDB,
# including the '|a||a||a|' -> '|aa||a|' overlap case). Pair counts
# are weighted by word frequency; ties break lexicographically.
_BPE_ROUNDS = 2


@query(
    "bpe_merge_learn",
    r"""
WITH w AS (
  SELECT token, count(*) AS cnt, regexp_replace(token, '(.)', '|\1|', 'g') AS ws
  FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS token
        FROM documents)
  WHERE regexp_matches(token, '^[a-z]+$') AND len(token) >= 2
  GROUP BY 1
),
p1 AS (
  SELECT p.a AS a, p.b AS b, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM (
    SELECT cnt, unnest(list_transform(range(1, len(syms)),
                 i -> {'a': syms[i], 'b': syms[i + 1]})) AS p
    FROM (SELECT cnt, string_split(trim(ws, '|'), '||') AS syms FROM w)
  )
  GROUP BY 1, 2
),
b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
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
                 i -> {'a': syms[i], 'b': syms[i + 1]})) AS p
    FROM (SELECT cnt, string_split(trim(ws, '|'), '||') AS syms FROM w2)
  )
  GROUP BY 1, 2
),
b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1)
SELECT 1 AS merge_rank, a AS left_sym, b AS right_sym, cnt AS pair_count FROM b1
UNION ALL
SELECT 2, a, b, cnt FROM b2
""",
)
def q_bpe_merge_learn(spark, sf_dir):
    """BPE vocabulary induction: the 2 highest-frequency symbol-pair
    merges over the corpus word table, rounds unrolled (round 2 counts
    pairs AFTER applying merge 1, so a learned bigram can participate
    in a longer merge). The heavy shuffle each round is the (a, b)
    pair-count aggregation — vocab²-bounded keys, partial-aggregated
    map-side; the 1-row winner broadcasts back into a pure-codegen
    string replace. At 100 TB the word table (distinct words x count)
    is the only state between rounds — exactly how production BPE
    trainers stream it."""
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
    return bpe_learn_merges(w, rounds=_BPE_ROUNDS)


def _bpe_pair_counts(words):
    syms = words.select(
        "cnt", F.expr(r"split(trim(BOTH '|' FROM ws), '\\|\\|')").alias("syms")
    ).filter(F.size("syms") >= 2)
    p = syms.select(
        "cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, size(syms) - 1), "
                "i -> struct(syms[i - 1] AS a, syms[i] AS b))"
            )
        ).alias("p"),
    )
    return p.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )


def _bpe_apply_merge(words, b):
    return words.crossJoin(F.broadcast(b.select("a", "b"))).select(
        "cnt",
        F.expr(
            "replace(ws, '|' || a || '||' || b || '|', '|' || a || b || '|')"
        ).alias("ws"),
    )


def bpe_learn_merges(words, rounds: int = 2):
    """Run `rounds` BPE merge rounds over a (cnt, ws) word table;
    returns (merge_rank, left_sym, right_sym, pair_count) per round."""
    out = None
    cur = words
    for r in range(1, rounds + 1):
        b = (
            _bpe_pair_counts(cur)
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        row = b.select(
            F.lit(r).alias("merge_rank"),
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.col("cnt").alias("pair_count"),
        )
        out = row if out is None else out.unionByName(row)
        if r < rounds:
            cur = _bpe_apply_merge(cur, b)
    return out


# -------------------- count-min sketch (mergeable frequency estimates)
# Completes the classic mergeable-sketch trio: HLL (distinct counts,
# below), the power-of-2 histogram (rank/quantiles, above), and CMS
# (point frequencies, here). CMS is a LINEAR sketch — merge is
# element-wise addition — so shard sketches built map-side sum into
# the corpus sketch with no re-read. K=3 rows x W=1024 counters;
# estimates only ever OVER-count (collision adds, never subtracts),
# which the golden pins. Deterministic md5 hashing -> full SQL twin.
_CMS_K = 3
_CMS_W = 1024
_CMS_TOPN = 10


def _cms_col_sql(j: int, tok: str) -> str:
    return MD5_INT64_SQL.format(x=f"'c{j}:' || {tok}") + f" % {_CMS_W}"


@query(
    "cms_token_frequency",
    f"""
WITH t AS (
  SELECT doc_id % 16 AS shard, unnest({_TOKS_DUCK}) AS token FROM documents
),
sc AS (SELECT shard, token, count(*) AS c FROM t GROUP BY 1, 2),
exact AS (SELECT token, CAST(sum(c) AS BIGINT) AS exact_count FROM sc GROUP BY 1),
cells AS (
  SELECT shard, 0 AS j, {_cms_col_sql(0, "token")} AS col, c FROM sc
  UNION ALL SELECT shard, 1, {_cms_col_sql(1, "token")}, c FROM sc
  UNION ALL SELECT shard, 2, {_cms_col_sql(2, "token")}, c FROM sc
),
shard_sk AS (SELECT shard, j, col, CAST(sum(c) AS BIGINT) AS c FROM cells GROUP BY 1, 2, 3),
merged AS (SELECT j, col, CAST(sum(c) AS BIGINT) AS c FROM shard_sk GROUP BY 1, 2),
top AS (SELECT token, exact_count FROM exact ORDER BY exact_count DESC, token LIMIT {_CMS_TOPN}),
probes AS (
  SELECT token, exact_count, 0 AS j, {_cms_col_sql(0, "token")} AS col FROM top
  UNION ALL SELECT token, exact_count, 1, {_cms_col_sql(1, "token")} FROM top
  UNION ALL SELECT token, exact_count, 2, {_cms_col_sql(2, "token")} FROM top
),
probe AS (
  SELECT p.token, p.exact_count, min(m.c) AS cms_est
  FROM probes p JOIN merged m USING (j, col)
  GROUP BY 1, 2
)
SELECT token, CAST(exact_count AS BIGINT) AS exact_count,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_count AS BIGINT) AS overestimate
FROM probe
""",
)
def q_cms_token_frequency(spark, sf_dir):
    """Count-min sketch over corpus tokens: 16 shard sketches (K=3 x
    W=1024 bigint counters) built map-side, merged by element-wise
    sum (CMS is linear — the property that lets 1000 executors or
    daily partials combine without re-reading text), then the top-10
    exact tokens are probed back: est = min over the K rows. At
    100 TB the sketch is 24 KiB per shard regardless of vocabulary;
    exact per-token counts need a vocab-sized shuffle. Overestimates
    are non-negative by construction (golden)."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        (F.col("doc_id") % 16).alias("shard"),
        F.explode(F.expr(_TOKS)).alias("token"),
    )
    # (shard, token) pre-aggregation: vocab-bounded, feeds sketch AND
    # exact side; checkpoint so the explode runs once
    st = (
        t.groupBy("shard", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    exact = st.groupBy("token").agg(F.sum("c").cast("bigint").alias("exact_count"))

    def col_of(j: int, tok) -> F.Column:
        return md5_int64(F.concat(F.lit(f"c{j}:"), tok)) % _CMS_W

    cells = None
    for j in range(_CMS_K):
        cj = st.select(
            "shard",
            F.lit(j).alias("j"),
            col_of(j, F.col("token")).alias("col"),
            "c",
        )
        cells = cj if cells is None else cells.unionByName(cj)
    shard_sk = cells.groupBy("shard", "j", "col").agg(F.sum("c").alias("c"))
    merged = shard_sk.groupBy("j", "col").agg(F.sum("c").cast("bigint").alias("c"))

    top = exact.orderBy(F.desc("exact_count"), "token").limit(_CMS_TOPN)
    probes = None
    for j in range(_CMS_K):
        pj = top.select(
            "token", "exact_count", F.lit(j).alias("j"),
            col_of(j, F.col("token")).alias("col"),
        )
        probes = pj if probes is None else probes.unionByName(pj)
    est = (
        probes.join(F.broadcast(merged), ["j", "col"])
        .groupBy("token", "exact_count")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "token",
        "exact_count",
        "cms_est",
        (F.col("cms_est") - F.col("exact_count")).alias("overestimate"),
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

    Reuses `registry_quality.bpe_learn_merges`' round machinery (winner
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


# --------------------------------------------------------------------
# distribution drift + filter A/B monitoring
# --------------------------------------------------------------------
# The monitoring half of a production pipeline: before a new corpus
# snapshot replaces the old one, (1) PSI quantifies how much the
# quality-score DISTRIBUTION moved (the standard population-stability
# check; complements source_token_kl's vocabulary drift), and (2) a
# two-proportion z-test says whether each source's quality-gate keep
# rate differs significantly from the rest of the corpus (the filter
# regression alarm). Both are single-aggregation plans over scored
# docs — the monitoring queries must be cheaper than the pipeline they
# guard.
@query(
    "quality_psi_drift",
    f"""
WITH v2src AS ({_V2_SRC_SQL}),
s1 AS ({_scored_docs_sql("documents")}),
s2 AS ({_scored_docs_sql("v2src")}),
b1 AS (SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin, count(*) AS n
       FROM s1 GROUP BY 1),
b2 AS (SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin, count(*) AS n
       FROM s2 GROUP BY 1),
t1 AS (SELECT sum(n) AS tot FROM b1),
t2 AS (SELECT sum(n) AS tot FROM b2),
bins AS (SELECT CAST(unnest(range(10)) AS INT) AS bin),
j AS (
  SELECT b.bin,
         COALESCE(b1.n, 0) AS n_v1, COALESCE(b2.n, 0) AS n_v2,
         greatest(COALESCE(b1.n, 0) * 1.0e0 / t1.tot, 1e-6) AS p1,
         greatest(COALESCE(b2.n, 0) * 1.0e0 / t2.tot, 1e-6) AS p2
  FROM bins b LEFT JOIN b1 ON b1.bin = b.bin LEFT JOIN b2 ON b2.bin = b.bin,
       t1, t2
),
terms AS (
  SELECT bin, CAST(n_v1 AS BIGINT) AS n_v1, CAST(n_v2 AS BIGINT) AS n_v2,
         round(p1, 6) AS p1, round(p2, 6) AS p2,
         round((p2 - p1) * ln(p2 / p1), 6) AS psi_term
  FROM j
),
tot AS (
  SELECT round(sum(CAST(round(psi_term * 1e6) AS BIGINT)) / 1e6, 6) AS psi_total
  FROM terms
)
SELECT bin, n_v1, n_v2, p1, p2, psi_term, tot.psi_total
FROM terms, tot
""",
)
def q_quality_psi_drift(spark, sf_dir):
    """Population Stability Index of the quality-score distribution
    between corpus snapshot v1 and the deterministically-derived v2
    (same churn fixture as corpus_snapshot_diff): 10 fixed-width bins
    over the score's [0,1] range, psi_term = (p2-p1)·ln(p2/p1) with
    probabilities floored at 1e-6 (the standard empty-bin guard), and
    psi_total summed over exact integer micro-terms so it is
    summation-order-independent. PSI < 0.1 ~ stable, 0.1-0.25 ~
    moderate shift, > 0.25 ~ retrain/re-audit.

    Scale shape: two scored scans -> two 10-row bin tables; everything
    after the map-side score is bin-count-sized. The scoring itself is
    pure codegen (no UDF), so the monitor costs two corpus scans and
    two KB-sized shuffles no matter the corpus size."""
    d = _t(spark, sf_dir, "documents")

    def binned(docs):
        score = text.quality_score("text")
        return (
            docs.select(
                F.least(F.floor(score * 10).cast("int"), F.lit(9)).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    # (round-13 A/B note: .cache()-ing b1/b2 to cut the four scored
    # scans to two was tried and measured SLOWER interleaved at sf0.1
    # — the four scans run concurrently inside the broadcast stages,
    # while the cache serializes two materialization jobs. At real
    # scale the cache wins; revisit when the corpus no longer fits
    # the cluster's concurrent-scan headroom.)
    b1, b2 = binned(d), binned(_v2_corpus(spark, sf_dir))
    bins = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    t1 = b1.agg(F.sum("n").alias("tot1"))
    t2 = b2.agg(F.sum("n").alias("tot2"))
    j = (
        bins.join(F.broadcast(b1.withColumnRenamed("n", "n1")), "bin", "left")
        .join(F.broadcast(b2.withColumnRenamed("n", "n2")), "bin", "left")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            "bin",
            F.coalesce("n1", F.lit(0)).cast("bigint").alias("n_v1"),
            F.coalesce("n2", F.lit(0)).cast("bigint").alias("n_v2"),
            F.greatest(
                F.coalesce("n1", F.lit(0)) / F.col("tot1"), F.lit(1e-6)
            ).alias("p1r"),
            F.greatest(
                F.coalesce("n2", F.lit(0)) / F.col("tot2"), F.lit(1e-6)
            ).alias("p2r"),
        )
    )
    terms = j.select(
        "bin",
        "n_v1",
        "n_v2",
        F.round("p1r", 6).alias("p1"),
        F.round("p2r", 6).alias("p2"),
        F.round(
            (F.col("p2r") - F.col("p1r")) * F.log(F.col("p2r") / F.col("p1r")), 6
        ).alias("psi_term"),
    )
    tot = terms.agg(
        F.round(
            F.sum(F.round(F.col("psi_term") * 1e6, 0).cast("bigint")) / 1e6, 6
        ).alias("psi_total")
    )
    return terms.crossJoin(F.broadcast(tot))


@query(
    "keep_rate_ab_test",
    f"""
WITH s AS ({_scored_docs_sql("documents")}),
agg AS (
  SELECT source, count(*) AS n,
         sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS k
  FROM s GROUP BY 1
),
tot AS (SELECT sum(n) AS nt, sum(k) AS kt FROM agg)
SELECT source, CAST(n AS BIGINT) AS n_docs, CAST(k AS BIGINT) AS n_keep,
       round(k * 1.0e0 / n, 6) AS keep_rate,
       round((k * 1.0e0 / n - (kt - k) * 1.0e0 / (nt - n))
             / sqrt((kt * 1.0e0 / nt) * (1.0e0 - kt * 1.0e0 / nt)
                    * (1.0e0 / n + 1.0e0 / (nt - n))), 6) AS z,
       CASE WHEN abs(round((k * 1.0e0 / n - (kt - k) * 1.0e0 / (nt - n))
             / sqrt((kt * 1.0e0 / nt) * (1.0e0 - kt * 1.0e0 / nt)
                    * (1.0e0 / n + 1.0e0 / (nt - n))), 6)) > 1.96
            THEN 1 ELSE 0 END AS significant
FROM agg, tot
WHERE n < nt
""",
)
def q_keep_rate_ab_test(spark, sf_dir):
    """Two-proportion z-test of each source's quality-gate keep rate
    (score >= 0.5) against the rest of the corpus — the alarm a
    pipeline fires when one ingestion source's filter behavior shifts.
    z is computed from exact integer counts in a fixed expression
    order (sqrt is IEEE-exact), so it is bit-deterministic
    cross-engine; the significance flag compares the 6dp-ROUNDED z to
    1.96 so both engines make the same call at the boundary.

    Scale shape: one map-side scored scan -> |sources|-row aggregate;
    the corpus total is a broadcast single row. Nothing downstream of
    the first aggregation scales with the input."""
    d = _t(spark, sf_dir, "documents")
    agg = (
        d.select(
            "source", (text.quality_score("text") >= 0.5).cast("int").alias("keep")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("keep").alias("k"))
    )
    tot = agg.agg(F.sum("n").alias("nt"), F.sum("k").alias("kt"))
    j = agg.crossJoin(F.broadcast(tot)).filter(F.col("n") < F.col("nt"))
    p1 = F.col("k") / F.col("n")
    p2 = (F.col("kt") - F.col("k")) / (F.col("nt") - F.col("n"))
    pp = F.col("kt") / F.col("nt")
    z = F.round(
        (p1 - p2)
        / F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / F.col("n") + F.lit(1.0) / (F.col("nt") - F.col("n")))),
        6,
    )
    return j.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("k").cast("bigint").alias("n_keep"),
        F.round(p1, 6).alias("keep_rate"),
        z.alias("z"),
        F.when(F.abs(z) > 1.96, 1).otherwise(0).alias("significant"),
    )


# --------------------------------------------------------------------
# Zipf slope (per-source token rank/frequency power-law fit)
# --------------------------------------------------------------------

_ZIPF_TOP = 100  # tokens per source entering the fit


@query(
    "zipf_slope_sources",
    f"""
WITH tok AS (
  SELECT source, unnest({_TOKS_DUCK}) AS token FROM documents
),
freq AS (SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, token ASC) AS rk
  FROM freq
),
pts AS (
  -- ln(rank), ln(freq) quantized to exact 1e-6 integers so every OLS
  -- sum is integer arithmetic (order-independent cross-engine);
  -- magnitudes: |x|,|y| <= ln(1e9)*1e6 ~ 2.1e7, xy <= 4.3e14, and
  -- n*sxy <= 4.3e16 — all safely inside BIGINT
  SELECT source,
         CAST(round(ln(rk) * 1e6) AS BIGINT) AS x,
         CAST(round(ln(c) * 1e6) AS BIGINT) AS y
  FROM ranked WHERE rk <= {_ZIPF_TOP}
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pts GROUP BY 1
)
SELECT source, n AS n_tokens,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
       round((CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)),
             6) AS r2
FROM s
""",
)
def q_zipf_slope_sources(spark, sf_dir):
    """Zipf's-law fit per source: OLS slope of ln(freq) on ln(rank)
    over each source's top-100 tokens, with goodness-of-fit r².
    Natural corpora sit near slope -1; templated/synthetic/spammy
    sources drift — the corpus-health scalar that complements
    `source_token_kl` (drift vs the corpus) and `token_frequency_
    scores` (per-doc rarity).

    Determinism: ranks are fully tie-broken; ln(rank)/ln(freq) are
    quantized to exact 1e-6 integers so every OLS sum is integer
    arithmetic (order-independent); slope and r² are computed from
    those exact sums in double and rounded at 6dp.

    Scale shape: one token-keyed count (map-side combined), one
    per-source window over the source's vocabulary (bounded by
    |vocab|, not corpus rows), and a 100-row-per-source fit. The
    fit input is vocabulary-sized no matter the corpus size."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.expr(_TOKS)).alias("token"))
    freq = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("source").orderBy(F.col("c").desc(), F.col("token").asc())
    pts = (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _ZIPF_TOP)
        .select(
            "source",
            F.round(F.log(F.col("rk")) * 1e6, 0).cast("bigint").alias("x"),
            F.round(F.log(F.col("c")) * 1e6, 0).cast("bigint").alias("y"),
        )
    )
    s = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.round(num / denx, 6).alias("zipf_slope"),
        F.round((num * num) / (denx * deny), 6).alias("r2"),
    )


# ---------------------------------------------------------- char entropy

_CHAR_ENT_SQL = """
WITH docs AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0 THEN repeat(substr(text, 1, 2), 50)
              ELSE text END AS text
  FROM documents
),
ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c
  FROM docs WHERE length(text) > 0
),
cc AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
cc2 AS (SELECT doc_id, CAST(k AS DOUBLE) AS k,
               CAST(sum(k) OVER (PARTITION BY doc_id) AS DOUBLE) AS t
        FROM cc),
ent AS (SELECT doc_id, round(-sum((k / t) * ln(k / t)), 6) AS entropy
        FROM cc2 GROUP BY doc_id),
per AS (
  SELECT d.doc_id, d.source, length(d.text) AS n_chars,
         coalesce(e.entropy, 0.0e0) AS entropy
  FROM docs d LEFT JOIN ent e USING (doc_id)
)
SELECT source,
       least(9, CAST(floor(entropy * 2) AS INT)) AS ent_bucket,
       count(*) AS n_docs,
       round(avg(entropy), 6) AS avg_entropy,
       round(avg(CAST(n_chars AS DOUBLE)), 2) AS avg_chars
FROM per
GROUP BY 1, 2
"""


@query("char_entropy_quality", _CHAR_ENT_SQL)
def q_char_entropy_quality(spark, sf_dir):
    """Per-document character-entropy quality signal (see
    functions/text.char_entropy) bucketed into 0.5-nat bins — the
    missing member of the quality battery next to text_quality /
    doc_repetition: flags degenerate-repetition docs (entropy -> 0)
    and random-byte docs (entropy -> ln|alphabet|) that token-level
    ratios miss.

    Scale shape: the entropy is a pure higher-order-function
    expression evaluated map-side inside whole-stage codegen (no
    explode — the char array never becomes rows), so the only shuffle
    carries one row per OCCUPIED 0.5-nat bucket (<= 10 keys) after
    map-side partial aggregation. Per-doc entropy is rounded to 6
    decimals BEFORE bucketing/averaging on both engines so the
    bucket edges and averages are cross-engine stable. Degenerate
    low-entropy docs are injected for doc_id % 5 == 0 (the corpus is
    homogeneous; same pattern as doc_repetition's injection) so the
    bucketing is actually exercised."""
    d = _t(spark, sf_dir, "documents")
    degraded = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 5 == 0, F.repeat(F.substring("text", 1, 2), 50)
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    per = degraded.select(
        "source",
        F.length("text").alias("n_chars"),
        F.round(text.char_entropy("text"), 6).alias("entropy"),
    )
    return (
        per.groupBy(
            "source",
            F.least(F.lit(9), F.floor(F.col("entropy") * 2).cast("int")).alias(
                "ent_bucket"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("entropy"), 6).alias("avg_entropy"),
            F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
        )
    )


# ------------------------------------------------------- ingest quality gate
DEFAULT_THRESHOLD = 0.6  # splits the driver corpus near its median


def admitted_docs(docs: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """The quality gate: every input column plus the rounded composite
    `quality` score; documents below the threshold are dropped.
    Map-only (scan -> project -> filter), so it composes in front of
    any downstream operator without an exchange."""
    return docs.withColumn("quality", text.quality_score("text")).where(
        F.col("quality") >= F.lit(threshold)
    )


def gate_summary(docs: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """Per-(lang, source) admission counts and mean/min admitted
    quality. The key space is bounded by the lang/source vocabularies,
    so the aggregate's state does not grow with the corpus."""
    # The mean is computed over exact 6-dp micro-units (each per-doc
    # quality is already round(x, 6), so round(q * 1e6) is an exact
    # integer): the sum is then order-independent, so the cross-engine
    # hash cannot land on a round-half boundary the way round(avg(..))
    # over non-associative double summation can (observed: one
    # 0.686152 vs 0.686153 row at sf0.001).
    micro = F.round(F.col("quality") * 1e6).cast("bigint")
    return (
        admitted_docs(docs, threshold)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_admitted"),
            F.round(
                F.sum(micro) / (F.count(F.lit(1)) * F.lit(1e6)), 6
            ).alias("avg_quality"),
            F.round(F.min("quality"), 6).alias("min_quality"),
        )
    )


_QUALITY_GATE_SQL = f"""
WITH scored AS (
  SELECT lang, source,
         round((least(n_tok / 100.0e0, 1.0e0)
                + greatest(0.0e0, 1.0e0 - 4.0e0 * punct_ratio)
                + least(1.0e0, 4.0e0 * stop_ratio)) / 3.0e0, 6) AS quality
  FROM (
    SELECT lang, source,
           len(toks) AS n_tok,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, t -> list_contains({_STOP}, t))) AS DOUBLE) / len(toks)
                ELSE 0.0e0 END AS stop_ratio,
           CASE WHEN length(text) > 0
                THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(text)
                ELSE 0.0e0 END AS punct_ratio
    FROM (SELECT lang, source, text, {_LOWER_TOKS_DUCK} AS toks FROM documents)
  )
)
SELECT lang, source,
       count(*) AS n_admitted,
       round(sum(CAST(round(quality * 1000000) AS BIGINT))
             / (count(*) * 1000000.0e0), 6) AS avg_quality,
       round(min(quality), 6) AS min_quality
FROM scored
WHERE quality >= {DEFAULT_THRESHOLD}
GROUP BY 1, 2
"""


@query("quality_gate_admissions", _QUALITY_GATE_SQL)
def q_quality_gate_admissions(spark, sf_dir):
    """Ingest quality-gate scoreboard: per-(lang, source)
    admitted-document counts and mean/min admitted quality at the
    default threshold. The aggregation key space is bounded
    (langs x sources), so its state is O(vocab), not O(corpus)."""
    return gate_summary(_t(spark, sf_dir, "documents"), DEFAULT_THRESHOLD)


# ------------------------------------------------------------- PII redaction
_PII_INJECT_SQL = """
  SELECT source,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE text END
         || CASE WHEN doc_id % 11 = 0
              THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                   || CAST(doc_id % 100 AS VARCHAR) || '.7'
              ELSE '' END
         || CASE WHEN doc_id % 13 = 0
              THEN ' call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS text
  FROM documents
"""

_PII_SQL = f"""
WITH injected AS ({_PII_INJECT_SQL}),
per AS (
  SELECT source,
         len(regexp_extract_all(text, '{{email}}')) AS n_emails,
         len(regexp_extract_all(text, '{{ip}}')) AS n_ips,
         len(regexp_extract_all(text, '{{phone}}')) AS n_phones,
         length(text)
           - length(regexp_replace(regexp_replace(regexp_replace(text,
                     '{{email}}', '<EMAIL>', 'g'),
                     '{{ip}}', '<IP>', 'g'),
                     '{{phone}}', '<PHONE>', 'g')) AS chars_delta
  FROM injected
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_emails + n_ips + n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(sum(n_emails) AS BIGINT) AS n_emails,
       CAST(sum(n_ips) AS BIGINT) AS n_ips,
       CAST(sum(n_phones) AS BIGINT) AS n_phones,
       CAST(sum(chars_delta) AS BIGINT) AS chars_delta
FROM per
GROUP BY source
"""


def _pii_oracle() -> str:
    return (
        _PII_SQL.replace("{email}", text.PII_EMAIL_RE)
        .replace("{ip}", text.PII_IPV4_RE)
        .replace("{phone}", text.PII_PHONE_RE)
    )


@query("pii_redaction_sources", _pii_oracle())
def q_pii_redaction_sources(spark, sf_dir):
    """PII scrub audit per source with the EXTENDED pattern set:
    full-charset emails (subdomains, +tags, mixed case), \b-anchored
    IPv4s, and international +CC phone numbers — the production
    generalization of registry_quality.pii_redaction, which pins the
    simple-pattern scrub byte-identically via an md5 checksum. This
    entry instead exposes the reusable library form
    (functions/text.redact_pii / pii_counts, restricted to
    Java-regex/RE2-identical syntax) and reports the redaction length
    delta; PII is injected deterministically into doc_id-keyed
    subsets (the driver corpus carries none — same injection pattern
    as doc_repetition / char_entropy_quality, expressed identically
    in both engines). tests/test_r8_pii.py asserts zero residual
    matches after redaction, incl. adjacent mixed-PII."""
    d = _t(spark, sf_dir, "documents")
    injected = d.select(
        "source",
        F.concat(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.col("text"),
                    F.lit(" contact: user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.col("text")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit("."),
                    (F.col("doc_id") % 100).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    n_em, n_ip, n_ph = text.pii_counts("text")
    per = injected.select(
        "source",
        n_em.alias("n_emails"),
        n_ip.alias("n_ips"),
        n_ph.alias("n_phones"),
        (F.length("text") - F.length(text.redact_pii("text"))).alias("chars_delta"),
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            ((F.col("n_emails") + F.col("n_ips") + F.col("n_phones")) > 0).cast("int")
        )
        .cast("bigint")
        .alias("docs_with_pii"),
        F.sum("n_emails").cast("bigint").alias("n_emails"),
        F.sum("n_ips").cast("bigint").alias("n_ips"),
        F.sum("n_phones").cast("bigint").alias("n_phones"),
        F.sum("chars_delta").cast("bigint").alias("chars_delta"),
    )


# ------------------------------------------------ bigram LM perplexity
_ALPHA = 0.5  # add-alpha smoothing mass per bigram type

# 1-based positions; position 1's context is the sentence-start token.
_BG_PAIRS = (
    "transform(sequence(1, size(toks)), "
    "i -> struct(CASE WHEN i = 1 THEN '<s>' "
    "ELSE element_at(toks, i - 1) END AS prev, "
    "element_at(toks, i) AS cur))"
)

_BG_PAIRS_DUCK = (
    "list_transform(range(1, len(toks) + 1), "
    "i -> {'prev': CASE WHEN i = 1 THEN '<s>' ELSE toks[i - 1] END, "
    "'cur': toks[i]})"
)

# The per-doc NLL CTE chain (through `pd`), shared with
# `perplexity_buckets`.
DOC_NLL_CTES = f"""t AS (
  SELECT doc_id, source, {_TOKS_DUCK} AS toks FROM documents
  WHERE len({_TOKS_DUCK}) > 0
),
bg AS (
  SELECT doc_id, source, u.prev AS prev, u.cur AS cur FROM (
    SELECT doc_id, source, unnest({_BG_PAIRS_DUCK}) AS u FROM t
  )
),
bgc AS (SELECT prev, cur, count(*) AS c_bg FROM bg GROUP BY 1, 2),
ctx AS (SELECT prev, count(*) AS c_prev FROM bg GROUP BY 1),
voc AS (SELECT CAST(count(DISTINCT cur) AS BIGINT) AS v_size FROM bg),
sc AS (
  SELECT b.doc_id, b.source,
         -log2((c_bg + {_ALPHA}) / (c_prev + {_ALPHA} * v_size)) AS nll
  FROM bg b JOIN bgc USING (prev, cur) JOIN ctx USING (prev) CROSS JOIN voc
),
pd AS (
  SELECT doc_id, source, round(avg(nll), 6) AS doc_nll
  FROM sc GROUP BY 1, 2
)"""

_BIGRAM_SQL = f"""
WITH {DOC_NLL_CTES},
pd2 AS (SELECT *, round(power(2.0, doc_nll), 4) AS ppl FROM pd),
g AS (SELECT round(avg(doc_nll), 6) AS corpus_nll FROM pd2)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(ppl), 4) AS mean_ppl,
       round(avg(CASE WHEN doc_nll > corpus_nll + 0.5 THEN 1.0e0
                 ELSE 0.0e0 END), 6) AS outlier_ratio
FROM pd2 CROSS JOIN g GROUP BY 1
"""


def doc_nll_df(spark, sf_dir):
    """The per-doc bigram NLL sub-plan (doc_id, source, doc_nll) —
    the Spark twin of DOC_NLL_CTES, shared by `bigram_lm_perplexity`
    and `perplexity_buckets`. See
    q_bigram_lm_perplexity's docstring for the scale shape."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", F.expr(_TOKS).alias("toks")).filter(
        F.size("toks") > 0
    )
    bg = toks.select(
        "doc_id", "source", F.explode(F.expr(_BG_PAIRS)).alias("p")
    ).select(
        "doc_id", "source", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
    )
    bgc = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = bg.groupBy("prev").agg(F.count(F.lit(1)).alias("c_prev"))
    voc = bg.agg(F.countDistinct("cur").alias("v_size"))
    sc = (
        bg.join(bgc, ["prev", "cur"])
        .join(ctx, "prev")
        .crossJoin(F.broadcast(voc))
        .withColumn(
            "nll",
            -F.log2(
                (F.col("c_bg") + F.lit(_ALPHA))
                / (F.col("c_prev") + F.lit(_ALPHA) * F.col("v_size"))
            ),
        )
    )
    return sc.groupBy("doc_id", "source").agg(
        F.round(F.avg("nll"), 6).alias("doc_nll")
    )


@query("bigram_lm_perplexity", _BIGRAM_SQL)
def q_bigram_lm_perplexity(spark, sf_dir):
    """Bigram-LM perplexity scoring (CCNet-style quality filter, the
    real conditional-probability form): train an add-alpha-smoothed
    bigram model ON the corpus, score every token's -log2 P(w|prev),
    roll up per-doc perplexity, and report per-source mean perplexity
    plus the fraction of docs whose NLL sits > 0.5 bits above the
    corpus mean (the CCNet tail-cut shape).

    Scale shape: the bigram pair stream is map-side (one array
    transform + explode, no window function for the lag — position
    pairing happens inside the row); model training is two
    high-cardinality hash aggs with map-side partials; scoring joins
    shuffle on (prev, cur) / prev like token_frequency_scores (AQE
    broadcasts the model tables when small, handles them keyed when
    vocab-sized); the vocab size and corpus-mean NLL are 1-row scalar
    crossJoins (lint-whitelisted). Float discipline: per-doc NLL is
    rounded to 6 dp before exp/aggregation on BOTH engines; log2 is
    the only libm call and its per-token ulp error is ~1e-16 relative
    against a 6-dp round."""
    pd = doc_nll_df(spark, sf_dir)
    pd2 = pd.withColumn("ppl", F.round(F.pow(F.lit(2.0), F.col("doc_nll")), 4))
    g = pd2.agg(F.round(F.avg("doc_nll"), 6).alias("corpus_nll"))
    return (
        pd2.crossJoin(F.broadcast(g))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("ppl"), 4).alias("mean_ppl"),
            F.round(
                F.avg(
                    (F.col("doc_nll") > F.col("corpus_nll") + 0.5).cast("double")
                ),
                6,
            ).alias("outlier_ratio"),
        )
    )


# ------------------------------------------------ top n-gram coverage
# Gopher-published breach thresholds per n
_NG_THR = {2: 0.20, 3: 0.18, 4: 0.16}

# stride-1 n-gram stream, duplicates KEPT (unlike the MinHash
# shingler's array_distinct — multiplicity IS the signal here)
_NG_GRAMS = (
    "transform(sequence(1, size(toks) - n + 1), "
    "i -> concat_ws(' ', slice(toks, i, n)))"
)

_NG_SQL = f"""
WITH t AS (SELECT doc_id, source, n_chars, {_TOKS_DUCK} AS toks FROM documents),
nn AS (SELECT doc_id, source, n_chars, toks, unnest([2, 3, 4]) AS n FROM t),
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
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, n
                               ORDER BY cnt DESC, gram) AS rn
  FROM c
),
top AS (
  SELECT doc_id, source, n,
         CAST(cnt * length(gram) AS DOUBLE) / n_chars AS coverage
  FROM r WHERE rn = 1
)
SELECT source, n, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(coverage), 6) AS avg_coverage,
       round(avg(CASE WHEN coverage > (CASE n WHEN 2 THEN {_NG_THR[2]}
                                       WHEN 3 THEN {_NG_THR[3]}
                                       ELSE {_NG_THR[4]} END)
                 THEN 1.0e0 ELSE 0.0e0 END), 6) AS breach_ratio
FROM top GROUP BY 1, 2
"""


@query("top_ngram_coverage", _NG_SQL)
def q_top_ngram_coverage(spark, sf_dir):
    """Top n-gram character coverage (the Gopher repetition rule
    `doc_repetition` does NOT cover): per document and n in {2,3,4},
    the fraction of characters covered by the single most frequent
    word n-gram, aggregated per source with the published breach
    thresholds (2-gram > 0.20, 3-gram > 0.18, 4-gram > 0.16).

    Scale shape: the n fan-out (x3) and the n-gram explode are
    map-side array transforms; the gram count shuffles on
    (doc_id, n, gram) — doc-local key space, map-side partials
    collapse repeats; the argmax is a keyed window PARTITION BY
    (doc_id, n) (never global); coverage is exact-integer arithmetic
    until one correctly-rounded division, so the breach comparison is
    bit-deterministic cross-engine."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", "n_chars", F.expr(_TOKS).alias("toks")
    ).withColumn("n", F.explode(F.array(F.lit(2), F.lit(3), F.lit(4))))
    grams = toks.filter(F.size("toks") >= F.col("n")).select(
        "doc_id",
        "source",
        "n_chars",
        "n",
        F.explode(F.expr(_NG_GRAMS)).alias("gram"),
    )
    cnt = grams.groupBy("doc_id", "source", "n_chars", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # argmax as min(struct(-cnt, gram)) instead of a row_number window
    # (round 12, guide §2.4): same row — highest cnt, then lowest gram
    # — but a partial-aggregating groupBy replaces the window's full
    # per-partition sort, and the second exchange carries one row per
    # (doc, n) instead of every distinct gram.
    top = (
        cnt.groupBy("doc_id", "source", "n_chars", "n")
        .agg(F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("gram"))).alias("m"))
        .withColumn(
            "coverage",
            (-F.col("m.nc") * F.length(F.col("m.gram"))).cast("double")
            / F.col("n_chars"),
        )
    )
    thr = (
        F.when(F.col("n") == 2, F.lit(_NG_THR[2]))
        .when(F.col("n") == 3, F.lit(_NG_THR[3]))
        .otherwise(F.lit(_NG_THR[4]))
    )
    return top.groupBy("source", "n").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("coverage"), 6).alias("avg_coverage"),
        F.round(
            F.avg((F.col("coverage") > thr).cast("double")), 6
        ).alias("breach_ratio"),
    )


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
    bigram_lm_perplexity (registry_quality.doc_nll_df). The terciles come
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


# ---------------------------------------------- dup n-gram fraction
# Gopher-published breach thresholds for the duplicate-n-gram rule
_DUP_THR = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}

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
        F.expr(f"array_sort({_NG_GRAMS})").alias("gs"),
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


# ------------------------------------------------ line quality rules
_LQR_SQL = f"""
WITH t AS (
  SELECT doc_id, source, {_SPACE_TOKS_DUCK} AS toks FROM documents
),
l AS (
  SELECT doc_id, source, {_LINES_DUCK} AS lines FROM t
),
d AS (
  SELECT source,
         len(lines) AS n_lines,
         len(list_filter(lines, x -> x LIKE '%.')) AS n_punct,
         len(list_filter(lines, x -> len(string_split(x, ' ')) < 4)) AS n_short,
         list_sum(list_transform(lines, x -> len(list_filter(string_split(x, ' '), w -> w <> '')))) AS n_words,
         CASE WHEN len(lines) = 0 THEN 0.0e0
              ELSE 1.0e0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
         END AS dup_frac
  FROM l
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_lines) AS BIGINT) AS n_lines,
       round(avg(n_lines), 6) AS mean_lines_per_doc,
       round(CAST(sum(n_words) AS DOUBLE) / sum(n_lines), 6) AS mean_words_per_line,
       round(CAST(sum(n_punct) AS DOUBLE) / sum(n_lines), 6) AS frac_lines_end_punct,
       round(CAST(sum(n_short) AS DOUBLE) / sum(n_lines), 6) AS frac_short_lines,
       round(avg(dup_frac), 6) AS mean_dup_line_fraction
FROM d GROUP BY 1
"""


@query("line_quality_rules", _LQR_SQL)
def q_line_quality_rules(spark, sf_dir):
    """FineWeb/C4 line-signal battery per source (see module
    docstring): line counts, words/line, terminal-punctuation and
    short-line fractions, within-doc duplicate-line fraction. The
    punctuation plant makes frac_lines_end_punct ~1/3 by
    construction — the assertion target. Map-only: all per-line math
    runs in array lambdas on the doc row; the only exchange is the
    |sources| aggregate."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # project toks first so the split isn't re-evaluated per lambda
    # element (the shingle-pipeline lesson, BASELINE.md round 1)
    lines = (
        d.select("doc_id", "source", F.expr(_SPACE_TOKS).alias("toks"))
        .select("doc_id", "source", F.expr(f"({_LINES_SPARK})").alias("lines"))
        .select(
            "source",
            F.size("lines").alias("n_lines"),
            F.size(F.expr("filter(lines, x -> x LIKE '%.')")).alias("n_punct"),
            F.size(
                F.expr("filter(lines, x -> size(split(x, ' ')) < 4)")
            ).alias("n_short"),
            F.expr(
                "aggregate(lines, 0, (acc, x) -> "
                "acc + size(filter(split(x, ' '), w -> w != '')))"
            ).alias("n_words"),
            F.expr(
                "CASE WHEN size(lines) = 0 THEN 0.0D ELSE "
                "1.0D - CAST(size(array_distinct(lines)) AS DOUBLE) / size(lines) END"
            ).alias("dup_frac"),
        )
    )
    return lines.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_lines").cast("bigint").alias("n_lines"),
        F.round(F.avg("n_lines"), 6).alias("mean_lines_per_doc"),
        F.round(
            F.sum("n_words").cast("double") / F.sum("n_lines"), 6
        ).alias("mean_words_per_line"),
        F.round(
            F.sum("n_punct").cast("double") / F.sum("n_lines"), 6
        ).alias("frac_lines_end_punct"),
        F.round(
            F.sum("n_short").cast("double") / F.sum("n_lines"), 6
        ).alias("frac_short_lines"),
        F.round(F.avg("dup_frac"), 6).alias("mean_dup_line_fraction"),
    )


# ------------------------------------------- hashed quality margin
# B buckets; pseudo-weight(bucket) = pmod(bucket * M + C, 1001) - 500
# integer micro-units in [-500, 500]. All sums stay integer (exact on
# both engines); the only doubles are the two final divisions, each
# computed from exact integers < 2^53, so IEEE division + HALF_UP
# round are bit-identical cross-engine.
_QB = 1024
_QM, _QC = 2654435761, 12345

# the registry's proven single-space tokenizer pair (registry._SPACE_TOKS:
# the synthetic corpus is space-delimited, and string_split(' ') is
# what DuckDB can mirror exactly), lowercased for the hashed features
_HQM_TOKS = "filter(split(lower(text), ' '), t -> t != '')"
_HQM_TOKS_DUCK = "list_filter(string_split(lower(text), ' '), t -> t != '')"
# Spark-side 60-bit md5 int (the SQL-expr twin of dedup.md5_int64 —
# conv(), because Spark cannot CAST a '0x...' literal to BIGINT)
_MD5_SPARK = "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)"
_W_SPARK = (
    f"pmod(pmod({_MD5_SPARK}, {_QB}) * {_QM} + {_QC}, 1001) - 500"
)
_W_DUCK = (
    f"(({MD5_INT64_SQL.format(x='t')} % {_QB}) * {_QM} + {_QC}) % 1001 - 500"
)

_HQM_SQL = f"""
WITH d AS (
  SELECT doc_id, source, {_HQM_TOKS_DUCK} AS toks FROM documents
),
m AS (
  SELECT doc_id, source, len(toks) AS n_tok,
         CAST(round(
           list_sum(list_transform(toks, t -> {_W_DUCK})) * 1e6
           / (1000.0 * len(toks))) AS BIGINT) AS margin_micro
  FROM d WHERE len(toks) > 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(margin_micro) AS DOUBLE) / count(*) / 1e6, 6)
         AS mean_margin,
       CAST(sum(CASE WHEN margin_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       round(CAST(sum(CASE WHEN margin_micro > 0 THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS keep_rate
FROM m GROUP BY 1
"""


@query("hashed_quality_margin", _HQM_SQL)
def q_hashed_quality_margin(spark, sf_dir):
    """fastText-style hashed linear quality margin per source (module
    docstring): tokens -> B=1024 hashed buckets -> surrogate integer
    weights -> per-doc mean margin (integer micro-units) -> per-source
    mean margin + keep rate at margin > 0. Map-only (the token fold is
    an array HOF on the doc row; zero per-token exchange) + one
    |sources|-sized agg."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    m = (
        d.select(
            "doc_id",
            "source",
            F.expr(f"({_HQM_TOKS})").alias("toks"),
        )
        .filter(F.size("toks") > 0)
        .select(
            "source",
            F.expr(
                f"CAST(round(aggregate(toks, 0L, (acc, t) -> acc + ({_W_SPARK}))"
                f" * 1e6 / (1000.0 * size(toks))) AS BIGINT)"
            ).alias("margin_micro"),
        )
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum("margin_micro").cast("double") / F.count(F.lit(1)) / F.lit(1e6),
            6,
        ).alias("mean_margin"),
        F.sum((F.col("margin_micro") > 0).cast("int")).cast("bigint").alias("n_kept"),
        F.round(
            F.sum((F.col("margin_micro") > 0).cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("keep_rate"),
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
