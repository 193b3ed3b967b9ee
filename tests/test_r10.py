"""Goldens for the round-10 additions (registry_quality, registry_vectors): the hashed
linear quality margin and the PQ recall audit — invariants the hash
oracle can't express (independent recomputation, bounds, cross-query
consistency)."""

from __future__ import annotations

import hashlib

from etl_sh_design_spark.registry_quality import _QB, _QC, _QM, q_hashed_quality_margin
from etl_sh_design_spark.registry_vectors import _PQR_K, _PQR_NQ, q_pq_recall_audit
from tests.conftest import SF_SMOKE


def test_hashed_quality_margin_recomputed_from_scratch(spark, duck):
    """The whole audit is integer-exact by construction, so a pure
    Python reimplementation (hashlib md5 + the same multiplicative
    hash) must reproduce every row bit-for-bit."""
    rows = {
        r["source"]: r for r in q_hashed_quality_margin(spark, SF_SMOKE).collect()
    }
    docs = duck.execute("SELECT source, text FROM documents").fetchall()
    per_source: dict[str, list[int]] = {}
    for source, text in docs:
        toks = [t for t in text.lower().split(" ") if t]
        if not toks:
            continue
        sw = sum(
            ((int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % _QB) * _QM + _QC)
            % 1001
            - 500
            for t in toks
        )
        x = sw * 1e6 / (1000.0 * len(toks))
        # round half away from zero, matching Spark/DuckDB round()
        micro = int(x + 0.5) if x >= 0 else -int(-x + 0.5)
        per_source.setdefault(source, []).append(micro)
    assert set(rows) == set(per_source)
    for src, micros in per_source.items():
        r = rows[src]
        assert r["n_docs"] == len(micros)
        assert r["n_kept"] == sum(1 for m in micros if m > 0)
        assert abs(r["mean_margin"] - round(sum(micros) / len(micros) / 1e6, 6)) < 1e-9
        assert abs(r["keep_rate"] - round(r["n_kept"] / r["n_docs"], 6)) < 1e-9
        # surrogate weights are uniform-ish in [-0.5, 0.5]: the mean
        # margin must sit well inside the envelope
        assert -0.5 <= r["mean_margin"] <= 0.5


def test_pq_recall_audit_shape_and_bounds(spark):
    """2 methods x n_queries rows; n_hits in [0, k]; recall is
    n_hits/k exactly; both methods cover every query id."""
    rows = q_pq_recall_audit(spark, SF_SMOKE).collect()
    assert len(rows) == 2 * _PQR_NQ
    by_method: dict[str, set[int]] = {"pq": set(), "ivfpq": set()}
    for r in rows:
        assert 0 <= r["n_hits"] <= _PQR_K
        assert abs(r["recall"] - round(r["n_hits"] / _PQR_K, 6)) < 1e-9
        by_method[r["method"]].add(r["qid"])
    assert by_method["pq"] == set(range(_PQR_NQ))
    assert by_method["ivfpq"] == set(range(_PQR_NQ))


def test_pq_rerank_dominates_raw_adc(spark):
    """The re-rank operator's reason to exist, pinned as an
    invariant: vs NumPy-recomputed exact L2 top-5 truth,
    shortlist+re-rank recall must be >= raw ADC top-5 recall for
    every query (the shortlist is a superset of the ADC top-5 and
    exact distances re-rank it), and the re-ranked output must be
    exactly the 5 exact-smallest members of its own shortlist."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_sh_design_spark.operators.pq import pq_rerank_topk, pq_topk

    e = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    pdf = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).toPandas()
    ids = pdf["vec_id"].to_numpy(dtype="int64")
    m = np.vstack([np.asarray(x) for x in pdf["v"]])

    def exact_topk_within(qid: int, pool: set[int] | None, k: int) -> list[int]:
        qv = m[ids == qid][0]
        d = ((m - qv) ** 2).sum(axis=1).round(6)
        cand = [
            (dd, int(i))
            for dd, i in zip(d, ids)
            if i != qid and (pool is None or int(i) in pool)
        ]
        cand.sort()
        return [i for _, i in cand[:k]]

    raw = pq_topk(e, k=5, n_queries=5).collect()
    rr = pq_rerank_topk(e, k=5, shortlist=50, n_queries=5).collect()
    short = pq_topk(e, k=50, n_queries=5).collect()
    raw_by_q: dict[int, set[int]] = {}
    rr_by_q: dict[int, list[int]] = {}
    short_by_q: dict[int, set[int]] = {}
    for r in raw:
        raw_by_q.setdefault(r["qid"], set()).add(r["neighbor_id"])
    for r in sorted(rr, key=lambda r: (r["qid"], r["rk"])):
        rr_by_q.setdefault(r["qid"], []).append(r["neighbor_id"])
    for r in short:
        short_by_q.setdefault(r["qid"], set()).add(r["neighbor_id"])
    for qid in range(5):
        truth = set(exact_topk_within(qid, None, 5))
        raw_recall = len(truth & raw_by_q[qid])
        rr_recall = len(truth & set(rr_by_q[qid]))
        assert rr_recall >= raw_recall, (qid, rr_recall, raw_recall)
        # the re-ranked list IS the exact top-5 of its shortlist
        assert rr_by_q[qid] == exact_topk_within(qid, short_by_q[qid], 5), qid


def test_ivfpq_multiprobe_scans_more_candidates(spark):
    """nprobe=2 must scan strictly more ADC candidates than nprobe=1
    (the probe multiplies the query-side LUT against a second cell's
    codes) while returning the same bounded top-k row count — the
    wiring proof that multi-probe actually probes."""
    from etl_sh_design_spark.operators.pq import ivfpq_topk

    e = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    n1 = ivfpq_topk(e, k=10**9, n_queries=5, nprobe=1).count()
    n2 = ivfpq_topk(e, k=10**9, n_queries=5, nprobe=2).count()
    assert n2 > n1, (n1, n2)
    k1 = ivfpq_topk(e, k=5, n_queries=5, nprobe=1).count()
    k2 = ivfpq_topk(e, k=5, n_queries=5, nprobe=2).count()
    assert k1 == k2 == 25


def test_hashed_quality_margin_weight_swap_path(spark):
    """The module docstring claims the surrogate hash-weights swap for
    a trained weight ARRAY without touching the plan — prove it: a
    1024-element literal array (holding exactly the surrogate values)
    looked up by bucket via element_at reproduces every per-source row
    bit-for-bit. This is the plan a real fastText export would run
    (weights broadcast as a literal/small table; featurization and
    aggregation unchanged)."""
    from pyspark.sql import functions as F

    from etl_sh_design_spark.registry_quality import (
        _HQM_TOKS as _TOKS,
        _MD5_SPARK,
        q_hashed_quality_margin,
    )

    weights = [((b * _QM + _QC) % 1001) - 500 for b in range(_QB)]
    arr = "array(" + ",".join(str(w) for w in weights) + ")"
    w_lookup = f"element_at({arr}, CAST(pmod({_MD5_SPARK}, {_QB}) AS INT) + 1)"
    d = spark.read.parquet(SF_SMOKE + "/documents.parquet").select(
        "doc_id", "source", "text"
    )
    m = (
        d.select("source", F.expr(f"({_TOKS})").alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "source",
            F.expr(
                f"CAST(round(aggregate(toks, 0L, (acc, t) -> acc + ({w_lookup}))"
                f" * 1e6 / (1000.0 * size(toks))) AS BIGINT)"
            ).alias("margin_micro"),
        )
    )
    swapped = m.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum("margin_micro").cast("double") / F.count(F.lit(1)) / F.lit(1e6), 6
        ).alias("mean_margin"),
        F.sum((F.col("margin_micro") > 0).cast("int")).cast("bigint").alias("n_kept"),
        F.round(
            F.sum((F.col("margin_micro") > 0).cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("keep_rate"),
    )
    a = sorted(tuple(r) for r in swapped.collect())
    b = sorted(tuple(r) for r in q_hashed_quality_margin(spark, SF_SMOKE).collect())
    assert a == b
