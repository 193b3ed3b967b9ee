"""char_entropy (functions/text.py) — unit values, degenerate inputs,
and the scale contract for char_entropy_quality: the entropy must stay
a map-side codegen expression (no Python eval, no explode-to-rows) and
the only exchange carries the (source, bucket)-sized partial agg."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_sh_design_spark.functions import text
from etl_sh_design_spark.registry_quality import q_char_entropy_quality
from tests.conftest import SF_SMOKE


def _ent(spark, s: str) -> float:
    df = spark.createDataFrame([(s,)], "text string")
    return df.select(text.char_entropy("text").alias("e")).collect()[0]["e"]


def test_known_entropies(spark):
    assert _ent(spark, "aaaa") == 0.0
    assert abs(_ent(spark, "ab") - math.log(2)) < 1e-12
    assert abs(_ent(spark, "aabb") - math.log(2)) < 1e-12
    # uniform 4-char alphabet -> ln 4
    assert abs(_ent(spark, "abcd") - math.log(4)) < 1e-12


def test_empty_and_null_text(spark):
    assert _ent(spark, "") == 0.0
    df = spark.createDataFrame([(None,)], "text string")
    out = df.select(text.char_entropy("text").alias("e")).collect()[0]["e"]
    # null text -> the when() guard falls through to the 0.0 default,
    # same as empty text (degenerate docs score 0, never null)
    assert out == 0.0


def test_entropy_matches_python_reference(spark):
    s = "the quick brown fox jumps over the lazy dog"
    from collections import Counter

    n = len(s)
    expect = -sum((k / n) * math.log(k / n) for k in Counter(s).values())
    assert abs(_ent(spark, s) - expect) < 1e-12


def test_plan_is_mapside_codegen_single_exchange(spark):
    df = q_char_entropy_quality(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no Python round-trip, no explode of the char array into rows
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Generate" not in plan  # explode would show as Generate
    # partial HashAggregate before the single exchange
    assert plan.count("Exchange") == 1
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_bucket_spread(spark):
    rows = q_char_entropy_quality(spark, SF_SMOKE).collect()
    buckets = {r["ent_bucket"] for r in rows}
    # injection guarantees the degenerate ln2-bucket next to the
    # natural-text bucket
    assert 1 in buckets and len(buckets) >= 2
    assert all(r["n_docs"] > 0 for r in rows)


# --------------------------------------------------------------- fuzz
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# BMP-only alphabet: Java splits "" between UTF-16 code units, DuckDB
# between UTF-8 characters — identical for BMP chars, NOT for
# surrogate-pair code points (emoji), which callers should count as
# a documented engine difference, not silent corruption
_ALPHA = "ab zé.!01"

_DUCK_ENT = """
WITH ch AS (
  SELECT i, unnest(string_split(t, '')) AS c FROM docs WHERE length(t) > 0
),
cc AS (SELECT i, c, count(*) AS k FROM ch GROUP BY 1, 2),
cc2 AS (SELECT i, CAST(k AS DOUBLE) AS k,
               CAST(sum(k) OVER (PARTITION BY i) AS DOUBLE) AS t FROM cc),
ent AS (SELECT i, round(-sum((k / t) * ln(k / t)), 6) AS e FROM cc2 GROUP BY i)
SELECT d.i, coalesce(ent.e, 0.0e0) AS e
FROM docs d LEFT JOIN ent USING (i)
"""


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(
    st.lists(
        st.text(alphabet=_ALPHA, min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    )
)
def test_fuzzed_entropy_matches_duckdb(spark, texts):
    import duckdb
    import pandas as pd

    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    ).select("i", F.round(text.char_entropy("t"), 6).alias("e"))
    srows = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"i": range(len(texts)), "t": texts}))
    drows = sorted(map(tuple, con.execute(_DUCK_ENT).fetchall()))
    con.close()
    assert srows == drows, (texts, srows, drows)
