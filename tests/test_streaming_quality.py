"""Ingest quality-gate goldens (registry_quality.py): the composite-
quality admission filter `admitted_docs` and its bounded-state
scoreboard `gate_summary`, the transformation behind the
driver-oracled `quality_gate_admissions` query.

The properties the gate's 100 TB story rests on: the admission filter
is map-only (legal in front of any stateful operator), raising the
threshold admits a strict subset (no score is recomputed differently
at a different threshold), the scoreboard's key space is bounded by
the (lang, source) vocabulary, and the rounded score is cross-engine
bit-stable on adversarial texts."""

from __future__ import annotations

from etl_sh_design_spark.registry_quality import (
    DEFAULT_THRESHOLD,
    admitted_docs,
    gate_summary,
)
from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(SF_SMOKE + "/documents.parquet")


def test_gate_filter_is_mapside(spark):
    """The admission gate itself must stay scan -> project -> filter:
    an Exchange would make it illegal in front of a streaming stateful
    operator in append mode (and a needless shuffle at 100 TB)."""
    plan = (
        admitted_docs(_docs(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_threshold_monotonicity(spark):
    """A stricter gate admits a strict subset of a looser gate, and the
    thresholds actually separate the corpus (both sides non-empty at
    the default threshold)."""
    docs = _docs(spark)
    loose = {r["doc_id"] for r in admitted_docs(docs, 0.0).select("doc_id").collect()}
    mid = {r["doc_id"] for r in admitted_docs(docs, DEFAULT_THRESHOLD).select("doc_id").collect()}
    strict = {r["doc_id"] for r in admitted_docs(docs, 0.99).select("doc_id").collect()}
    assert strict <= mid <= loose
    assert loose == {r["doc_id"] for r in docs.select("doc_id").collect()}
    n_total = docs.count()
    assert 0 < len(mid) < n_total  # the default threshold really gates


def test_scoreboard_state_is_bounded(spark):
    """The scoreboard key space is exactly the (lang, source) vocabulary
    of the ADMITTED set — bounded by the full vocabulary product, never
    by corpus size. This is the invariant that makes complete-mode
    state O(vocab) at 100 TB/day."""
    docs = _docs(spark)
    board = gate_summary(docs, DEFAULT_THRESHOLD)
    vocab = docs.select("lang", "source").distinct().count()
    assert board.count() <= vocab


# --------------------------------------------------------------- fuzz
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Adversarial quality inputs: stopword-dense, punctuation-heavy,
# whitespace-run, and empty docs (ASCII/BMP — the tokenizer splits on
# \s+ and the punct class is \w-complement, both ASCII-identical in
# Java regex and RE2).
_WORD = st.sampled_from(
    ["the", "a", "of", "zq", "b1", "...", "!!", "x,y", "_", "é"]
)
_DOC = st.builds(
    lambda ws, sep: sep.join(ws),
    st.lists(_WORD, min_size=0, max_size=30),
    st.sampled_from([" ", "  ", " \t ", "\n"]),
)

_DUCK_Q = """
SELECT i,
       round((least(n_tok / 100.0e0, 1.0e0)
              + greatest(0.0e0, 1.0e0 - 4.0e0 * punct_ratio)
              + least(1.0e0, 4.0e0 * stop_ratio)) / 3.0e0, 6) AS q
FROM (
  SELECT i,
         len(toks) AS n_tok,
         CASE WHEN len(toks) > 0
              THEN CAST(len(list_filter(toks, x -> list_contains(
                     ['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE) / len(toks)
              ELSE 0.0e0 END AS stop_ratio,
         CASE WHEN length(t) > 0
              THEN CAST(length(t) - length(regexp_replace(t, '[^\\w\\s]', '', 'g')) AS DOUBLE) / length(t)
              ELSE 0.0e0 END AS punct_ratio
  FROM (SELECT i, t,
               list_filter(string_split_regex(lower(t), '\\s+'), x -> x != '') AS toks
        FROM docs)
)
"""


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(st.lists(_DOC, min_size=1, max_size=8))
def test_fuzzed_quality_score_matches_duckdb(spark, texts):
    """The gate's admission decision is exactly quality >= threshold,
    so the rounded score itself must be cross-engine bit-stable on
    adversarial compositions, not just on the synthetic corpus."""
    import duckdb
    import pandas as pd

    from etl_sh_design_spark.functions import text as _text

    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    ).select("i", _text.quality_score("t").alias("q"))
    srows = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"i": range(len(texts)), "t": texts}))
    drows = sorted(map(tuple, con.execute(_DUCK_Q).fetchall()))
    con.close()
    assert srows == drows, (texts, srows, drows)
