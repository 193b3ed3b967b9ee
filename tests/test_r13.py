"""Round-13 optimization invariants.

- GEMM panel broadcasts are session-memoized (VERDICT r12 what's-wrong
  #3): repeated query CONSTRUCTIONS over the same panel plan must reuse
  ONE sc.broadcast instead of leaking one per construction, and the
  memoized path must return the same rows as a fresh build.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_sh_design_spark import memo
from etl_sh_design_spark.operators import similarity as sim
from tests.conftest import SF_SMOKE


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def _panels():
    return memo.stats().get("panels", {"hits": 0, "misses": 0, "entries": 0})


def test_panel_broadcast_memoized_across_constructions(spark):
    memo.clear("panels")
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 5)

    r1 = sorted(
        tuple(r) for r in sim.cosine_topk(q, emb, k=3).collect()
    )
    assert _panels()["entries"] == 1  # one distinct panel -> one entry

    # an identical re-construction (the best-of-N sweep shape) must HIT
    # the memo: no second entry, same rows
    hits = _panels()["hits"]
    r2 = sorted(
        tuple(r) for r in sim.cosine_topk(q, emb, k=3).collect()
    )
    assert _panels()["entries"] == 1
    assert _panels()["hits"] == hits + 1
    assert r1 == r2

    # a hit hands back the SAME broadcast object
    def build(pdf):
        return len(pdf)

    bc_first, _ = sim.session_broadcast_panel(q, "t_same", build)
    bc_again, _ = sim.session_broadcast_panel(q, "t_same", build)
    assert bc_again is bc_first
    memo.clear("panels")

    # a DIFFERENT panel gets its own entry (keys are plan-scoped)
    sim.cosine_topk(q, emb, k=3).collect()
    sim.cosine_topk(emb.filter(F.col("vec_id") < 7), emb, k=3).collect()
    assert _panels()["entries"] == 2
    memo.clear("panels")


def test_panel_memo_empty_panel_stable(spark):
    memo.clear("panels")
    emb = _emb(spark)
    out = sim.cosine_topk(emb.filter(F.col("vec_id") < 0), emb, k=3)
    assert out.count() == 0
    memo.clear("panels")


def test_signature_union_split_equals_fused(spark):
    """The round-13 incremental restructure rests on one identity:
    the map-side MinHash is a per-row map, so sig(A UNION B) ==
    sig(A) UNION sig(B) row-for-row. Pin it on the real corpus with
    the incremental_neardup delta shape (dropped-last-token docs)."""
    from etl_sh_design_spark.operators.dedup import minhash_signatures_mapside

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    toks = "filter(split(lower(text), '\\\\s+'), t -> t != '')"
    inc = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr(
            f"array_join(slice({toks}, 1, greatest(size({toks}) - 1, 0)), ' ')"
        ).alias("text"),
    )
    fused = minhash_signatures_mapside(d.unionByName(inc), k=16, n=3)
    split = minhash_signatures_mapside(d, k=16, n=3).unionByName(
        minhash_signatures_mapside(inc, k=16, n=3)
    )
    rows_f = sorted((r["doc_id"], tuple(r["sig"])) for r in fused.collect())
    rows_s = sorted((r["doc_id"], tuple(r["sig"])) for r in split.collect())
    assert rows_f == rows_s


def test_docs_signatures_memoized(spark):
    from etl_sh_design_spark import registry_dedup

    memo.clear("dedup")
    a = registry_dedup.docs_signatures(spark, SF_SMOKE)
    b = registry_dedup.docs_signatures(spark, SF_SMOKE)
    assert a is b  # one documents-side signature build per session
    memo.clear("dedup")


def test_docs_signatures_family_registered_half_identical(spark):
    """When the dedup family build runs first, docs_signatures is the
    fused checkpoint filtered to doc_id < 1000000 — its rows must be
    identical to the standalone docs-only build (the oracle path)."""
    from etl_sh_design_spark import registry_dedup

    memo.clear("dedup")
    registry_dedup.dedup_signatures(spark, SF_SMOKE)  # registers the half
    via_family = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in registry_dedup.docs_signatures(spark, SF_SMOKE).collect()
    )
    memo.clear("dedup")
    standalone = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in registry_dedup.docs_signatures(spark, SF_SMOKE).collect()
    )
    assert via_family == standalone
    memo.clear("dedup")
