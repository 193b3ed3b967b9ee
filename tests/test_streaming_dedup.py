"""Map-side MinHash signature goldens (operators/dedup.py): the
zero-shuffle per-row signature that `with_signature_key` and the
registry's `minhash_mapside_signatures` / `signature_dedup_groups`
queries build on.

Contract: minhash_signatures_mapside == minhash_signatures_wide
(bit-identical per-doc minima), its plan carries no Exchange, and its
row filter pushes to the scan without re-tokenizing per gram."""

from __future__ import annotations

from etl_sh_design_spark.operators.dedup import (
    minhash_signatures_mapside,
    minhash_signatures_wide,
)
from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(SF_SMOKE + "/documents.parquet")


def test_mapside_signatures_equal_wide(spark):
    """The zero-shuffle per-row form and the shared-vocabulary join
    form must produce bit-identical signatures for every doc."""
    docs = _docs(spark)
    wide = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures_wide(docs, k=8).collect()}
    mapside = {
        r["doc_id"]: list(r["sig"]) for r in minhash_signatures_mapside(docs, k=8).collect()
    }
    assert wide == mapside and len(wide) > 0


def test_mapside_signature_plan_has_no_exchange(spark):
    """The map-side signature is scan -> project -> filter: any
    Exchange in the plan means the formulation regressed to a shuffle
    (and would be illegal in front of the streaming stateful dedup)."""
    plan = minhash_signatures_mapside(_docs(spark), k=8)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_mapside_signature_pushed_filter_is_cheap(spark):
    """Regression (round 8): the row filter must push to the scan in a
    form that references the token chain ONCE. Filtering on
    size(grams) > 0 instead gets the whole gram `transform` inlined
    into the scan-level predicate, whose lambda indexes toks 3x per
    element — the scan then re-tokenizes each document ~3x-grams
    times (measured 15x wall at sf0.1, growing with document length,
    so it would ship to the 100 TB plan too)."""
    df = minhash_signatures_mapside(_docs(spark), k=8)
    physical = df._jdf.queryExecution().executedPlan().toString()
    filter_lines = [l for l in physical.splitlines() if "Filter" in l]
    assert filter_lines, physical
    for line in filter_lines:
        assert "transform(" not in line, (
            "gram expression inlined into a pushed filter:\n" + line
        )
