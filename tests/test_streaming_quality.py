"""Streaming quality-gate goldens (streaming/quality.py): the in-stream
composite-quality admission filter and its bounded-state scoreboard.

Contract chain: the shared `gate_summary` transformation applied to
the STREAM equals it applied to the static table (stream == batch) ->
the batch form is the driver-oracled registry_quality.quality_gate_admissions
-> so the DuckDB oracle transitively pins the streaming path. Plus the
two properties the gate's 100 TB story rests on: the admission filter
is map-only (legal in front of any stateful operator), and raising the
threshold admits a strict subset (no score is recomputed differently
at a different threshold)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_sh_design_spark.streaming.dedup import with_signature_key
from etl_sh_design_spark.streaming.quality import (
    DEFAULT_THRESHOLD,
    admitted_docs,
    gate_summary,
    streaming_gated_dedup,
    streaming_quality_gate,
)
from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(SF_SMOKE + "/documents.parquet")


def _key(rows):
    return sorted(
        (r["lang"], r["source"], r["n_admitted"], r["avg_quality"], r["min_quality"])
        for r in rows
    )


def test_streaming_gate_equals_batch(spark):
    """Drained complete-mode scoreboard == the shared transformation on
    the static table (the driver-oracled batch twin)."""
    got = streaming_quality_gate(spark, SF_SMOKE, query_name="qgate_t1")
    want = gate_summary(_docs(spark), DEFAULT_THRESHOLD)
    assert _key(got.collect()) == _key(want.collect())
    assert got.count() > 0


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


def test_streaming_gated_dedup_equals_batch_composition(spark):
    """Gate -> dedup composed in ONE stream: survivors carry exactly
    the signature universe of the batch composition of the same two
    shared transformations (both independently driver-oracled), and
    every survivor passed the gate."""
    got = streaming_gated_dedup(spark, SF_SMOKE, query_name="gdedup_t1")
    batch_keys = {
        r["sig_key"]
        for r in with_signature_key(admitted_docs(_docs(spark), DEFAULT_THRESHOLD))
        .select("sig_key")
        .collect()
    }
    rows = got.collect()
    assert {r["sig_key"] for r in rows} == batch_keys
    assert len(rows) == len(batch_keys)  # one survivor per signature
    assert all(r["quality"] >= DEFAULT_THRESHOLD for r in rows)


def test_scoreboard_state_is_bounded(spark):
    """The scoreboard key space is exactly the (lang, source) vocabulary
    of the ADMITTED set — bounded by the full vocabulary product, never
    by corpus size. This is the invariant that makes complete-mode
    state O(vocab) at 100 TB/day."""
    docs = _docs(spark)
    board = gate_summary(docs, DEFAULT_THRESHOLD)
    vocab = docs.select("lang", "source").distinct().count()
    assert board.count() <= vocab


def test_gated_ingest_restart_resumes_state(spark, tmp_path):
    """Exactly-once restart contract of the durable ingest
    (start_gated_ingest): stop the stream after delivery 1, deliver
    batch 2 containing brand-new docs PLUS near-exact duplicates of
    already-admitted batch-1 survivors (same text, new doc_ids), and
    restart from the SAME checkpoint. The resumed query must (a) not
    re-emit batch-1 files (offset recovery), (b) still drop the
    re-delivered duplicates (dedup state-store recovery), (c) emit
    exactly the genuinely-new admitted signatures."""
    import shutil

    from etl_sh_design_spark.streaming.quality import start_gated_ingest

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    mid, top = ids[len(ids) // 2], ids[-1]
    p1 = docs.filter(F.col("doc_id") <= mid)
    p2_new = docs.filter(F.col("doc_id") > mid)

    def deliver(df, name):
        stage = tmp_path / ("stage_" + name)
        df.coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.move(str(part), str(src / (name + ".parquet")))

    deliver(p1, "p1")
    q = start_gated_ingest(spark, str(src), str(out), str(ckpt), docs.schema)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    a = spark.read.parquet(str(out)).collect()
    a_ids = {r["doc_id"] for r in a}
    a_keys = {r["sig_key"] for r in a}
    assert a_ids and a_ids <= set(ids[: len(ids) // 2 + 1])
    assert all(r["quality"] >= DEFAULT_THRESHOLD for r in a)

    # batch 2: the other half, plus near-exact duplicates of 3 admitted
    # batch-1 survivors (same text -> same signature, fresh doc_ids)
    dup_src_ids = sorted(a_ids)[:3]
    dups = (
        docs.filter(F.col("doc_id").isin(dup_src_ids))
        .withColumn("doc_id", F.col("doc_id") + F.lit(top + 1000))
    )
    deliver(p2_new.unionByName(dups), "p2")

    q2 = start_gated_ingest(spark, str(src), str(out), str(ckpt), docs.schema)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    allrows = spark.read.parquet(str(out)).collect()
    b = [r for r in allrows if r["doc_id"] not in a_ids]
    b_ids = {r["doc_id"] for r in b}
    b_keys = {r["sig_key"] for r in b}

    # (a) offset recovery: nothing from batch 1 re-emitted
    assert len(allrows) == len(a) + len(b)
    assert b_ids <= {r["doc_id"] for r in p2_new.collect()} | {
        i + top + 1000 for i in dup_src_ids
    }
    # (b) state recovery: every re-delivered duplicate dropped
    assert not ({i + top + 1000 for i in dup_src_ids} & b_ids)
    assert not (a_keys & b_keys)
    # (c) exactly the new admitted signature universe
    expected = {
        r["sig_key"]
        for r in with_signature_key(admitted_docs(p2_new, DEFAULT_THRESHOLD))
        .select("sig_key")
        .collect()
    } - a_keys
    assert b_keys == expected


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
