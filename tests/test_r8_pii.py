"""PII scrub goldens (functions/text.redact_pii / pii_counts):
residual-free redaction, count consistency, and the map-only plan
shape. The cross-engine value pin lives in the driver oracle
(registry_quality.pii_redaction_sources); these tests pin the semantics
the oracle's rollup can't see per-row."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_sh_design_spark.functions import text
from tests.conftest import SF_SMOKE

FIXTURE = [
    (1, "mail me at alice.smith+spam@sub.example.co.uk today"),
    (2, "server 192.168.1.250 and 10.0.0.1 are up"),
    (3, "call +1-555-867-5309 or +44-207-946-0958 now"),
    (4, "no pii here at all"),
    (5, "mixed: bob@x.io on 172.16.9.8 via +1-555-000-1111"),
    (6, ""),
]


def _df(spark):
    return spark.createDataFrame(FIXTURE, "doc_id int, text string")


def test_redaction_leaves_no_residual_matches(spark):
    """After redact_pii, every pattern count is zero — including on
    the mixed-PII row where replacements are adjacent."""
    red = _df(spark).select(text.redact_pii("text").alias("text"))
    n_em, n_ip, n_ph = text.pii_counts("text")
    leftover = red.select(
        F.sum(n_em + n_ip + n_ph).alias("n")
    ).collect()[0]["n"]
    assert leftover == 0


def test_counts_and_placeholders(spark):
    got = {
        r["doc_id"]: (r["e"], r["i"], r["p"], r["red"])
        for r in _df(spark)
        .select(
            "doc_id",
            text.pii_counts("text")[0].alias("e"),
            text.pii_counts("text")[1].alias("i"),
            text.pii_counts("text")[2].alias("p"),
            text.redact_pii("text").alias("red"),
        )
        .collect()
    }
    assert got[1][:3] == (1, 0, 0) and "<EMAIL>" in got[1][3]
    assert got[2][:3] == (0, 2, 0) and got[2][3].count("<IP>") == 2
    assert got[3][:3] == (0, 0, 2) and got[3][3].count("<PHONE>") == 2
    assert got[4][:3] == (0, 0, 0) and got[4][3] == "no pii here at all"
    assert got[5][:3] == (1, 1, 1)
    assert got[6][:3] == (0, 0, 0) and got[6][3] == ""


def test_injected_corpus_counts_follow_moduli(spark):
    """On the oracle query's injected corpus, every doc_id % 7 == 0
    doc carries exactly one email (likewise 11 -> IP, 13 -> phone):
    total counts equal the modulus populations."""
    import __spark_entry__ as em

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    n = {
        m: docs.filter(F.col("doc_id") % m == 0).count() for m in (7, 11, 13)
    }
    agg = (
        em.queries()["pii_redaction_sources"](spark, SF_SMOKE)
        .agg(
            F.sum("n_emails").alias("e"),
            F.sum("n_ips").alias("i"),
            F.sum("n_phones").alias("p"),
        )
        .collect()[0]
    )
    assert (agg["e"], agg["i"], agg["p"]) == (n[7], n[11], n[13])


def test_redaction_is_mapside(spark):
    """The scrub must stay scan -> project: an Exchange means the
    regexp chain regressed off the map side."""
    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    plan = (
        docs.select(text.redact_pii("text").alias("t"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


# --------------------------------------------------------------- fuzz
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_sh_design_spark.functions.text import (
    PII_EMAIL_RE,
    PII_IPV4_RE,
    PII_PHONE_RE,
)

# Adversarial-by-construction inputs: near-miss fragments from the
# PII alphabet (bare '@', dangling dots, digit runs) interleaved with
# WELL-FORMED emails/IPs/phones, joined with separators including ''
# so matches become adjacent to arbitrary context. BMP/ASCII only —
# the patterns are ASCII classes and \b/\d/\w are ASCII in both
# Java's default regex and RE2, which is exactly the claim under test.
_RAW = st.text(alphabet="ab1 @.-+_%Z9", min_size=0, max_size=12)
_EMAIL = st.builds(
    "{}@{}.{}".format,
    st.text(alphabet="abc019._%+-", min_size=1, max_size=8),
    st.text(alphabet="abc09.-", min_size=1, max_size=6),
    st.sampled_from(["com", "io", "co", "uk"]),
)
_IP = st.builds(
    "{}.{}.{}.{}".format,
    *([st.integers(min_value=0, max_value=999)] * 4),
)
_PHONE = st.builds(
    "+{}-{}-{}-{}".format,
    st.integers(min_value=1, max_value=999),
    st.integers(min_value=100, max_value=999),
    st.integers(min_value=100, max_value=999),
    st.integers(min_value=1000, max_value=9999),
)
_DOC = st.builds(
    lambda parts, sep: sep.join(parts),
    st.lists(st.one_of(_RAW, _EMAIL, _IP, _PHONE), min_size=0, max_size=6),
    st.sampled_from([" ", "", ","]),
)

_DUCK_PII = f"""
SELECT i,
       len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS e,
       len(regexp_extract_all(t, '{PII_IPV4_RE}')) AS ip,
       len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS ph,
       regexp_replace(regexp_replace(regexp_replace(t,
         '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
         '{PII_IPV4_RE}', '<IP>', 'g'),
         '{PII_PHONE_RE}', '<PHONE>', 'g') AS red
FROM docs
"""


@settings(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(st.lists(_DOC, min_size=1, max_size=8))
def test_fuzzed_pii_counts_and_redaction_match_duckdb(spark, texts):
    import duckdb
    import pandas as pd

    n_em, n_ip, n_ph = text.pii_counts("t")
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    ).select(
        "i",
        n_em.alias("e"),
        n_ip.alias("ip"),
        n_ph.alias("ph"),
        text.redact_pii("t").alias("red"),
    )
    srows = sorted(tuple(r) for r in sdf.collect())
    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"i": range(len(texts)), "t": texts}))
    drows = sorted(map(tuple, con.execute(_DUCK_PII).fetchall()))
    con.close()
    assert srows == drows, (texts, srows, drows)
