"""Product-quantization ANN goldens: code structure, determinism, and
a recall floor against exact L2 — the honest-quality check for the
compression rung of the similarity ladder (synthetic random embeddings
are PQ's worst case, so the floor is deliberately modest; structured
real-world embeddings do far better)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_sh_design_spark.operators.pq import KCODES, M, SUBDIM, pq_topk, pq_train_encode
from tests.conftest import SF_SMOKE


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_pq_codebook_and_code_structure(spark):
    cb, codes = pq_train_encode(_emb(spark))
    cb_rows = cb.collect()
    # at most M*K codebook entries, each a SUBDIM-length double vector
    assert len(cb_rows) <= M * KCODES
    assert all(len(r["c"]) == SUBDIM for r in cb_rows)
    assert {r["s"] for r in cb_rows} == set(range(M))
    n_vecs = _emb(spark).count()
    code_rows = codes.collect()
    # every vector gets exactly M codes, all in [0, KCODES)
    assert len(code_rows) == n_vecs * M
    assert all(0 <= r["code"] < KCODES for r in code_rows)


def test_pq_topk_shape_and_recall_floor(spark):
    e = _emb(spark)
    got = pq_topk(e, k=5, n_queries=10).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rk"], r["neighbor_id"]))
    assert set(by_q) == set(range(10))
    for q, pairs in by_q.items():
        ranks = sorted(rk for rk, _ in pairs)
        assert ranks == [1, 2, 3, 4, 5]
        assert len({n for _, n in pairs}) == 5
        assert all(n != q for _, n in pairs)

    # exact L2 top-5 via brute crossJoin (test-scale corpus only)
    v = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    d = (
        v.crossJoin(q)
        .filter(F.col("qid") != F.col("vec_id"))
        .withColumn(
            "dist",
            F.aggregate(
                F.zip_with("qv", "v", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            ),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy("dist", "vec_id")
    exact = (
        d.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5).collect()
    )
    ex: dict = {}
    for r in exact:
        ex.setdefault(r["qid"], set()).add(r["vec_id"])
    hits = sum(len(ex[q] & {n for _, n in by_q[q]}) for q in ex)
    recall = hits / sum(len(s) for s in ex.values())
    assert recall >= 0.15, f"PQ recall@5 collapsed: {recall}"


def test_ivfpq_candidates_stay_in_cell(spark):
    """IVF-PQ contract: every returned neighbor must live in the same
    coarse cell as its query (nprobe=1), and each query returns k
    distinct, rank-complete neighbors."""
    from etl_sh_design_spark.operators.pq import N_COARSE, ivfpq_topk
    from etl_sh_design_spark.operators.similarity import _dot, _dvec, _norm

    e = _emb(spark)
    got = ivfpq_topk(e, k=5, n_queries=10).collect()
    # recompute cell assignment independently (same rounded-cosine rule)
    v = e.select("vec_id", _dvec("embedding").alias("v"))
    cents = v.filter(F.col("vec_id") < N_COARSE).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("v").alias("cv")
    )
    scored = v.crossJoin(cents).withColumn(
        "sim", F.round(_dot("v", "cv") / (_norm("v") * _norm("cv")), 6)
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cell")
        .collect()
    }
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r)
        assert cell_of[r["neighbor_id"]] == cell_of[r["qid"]], (
            f"neighbor {r['neighbor_id']} left query {r['qid']}'s cell"
        )
    for q, rows in by_q.items():
        assert sorted(r["rk"] for r in rows) == list(range(1, len(rows) + 1))
        assert len({r["neighbor_id"] for r in rows}) == len(rows)


def test_blocked_gemm_equals_broadcast_path(spark):
    """Auto-dispatch closure (VERDICT r5 #5): forcing the distributed
    blocked-GEMM path (max_broadcast_rows below the corpus size) must
    give EXACTLY the broadcast path's pairs — same ids, same 6dp
    cosines — on the sf0.001 embeddings."""
    from pyspark.sql import functions as F

    from etl_sh_design_spark.operators.similarity import embedding_near_dup_pairs

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # plant near-dups: slightly-perturbed copies under shifted ids
    # (the registry_vectors.embedding_neardup recipe)
    pert = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda v: v * F.lit(1.001)).alias("embedding"),
    )
    df = e.unionByName(pert)
    base = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_dup_pairs(df, threshold=0.99).collect()
    }
    forced = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_dup_pairs(
            df, threshold=0.99, max_broadcast_rows=10, target_block_rows=37
        ).collect()
    }
    assert base == forced
    assert len(base) > 0


def test_pq_memo_parity(spark):
    """Round-12 memo (the "pq" / "ivfpq" memo families): the
    session-scoped train/ADC memo must be a pure plan cache — cold
    build, memo hit, and a memo-bypassing fresh train must all agree
    bit-for-bit."""
    from etl_sh_design_spark import memo
    from etl_sh_design_spark.operators import pq

    e = _emb(spark)
    memo.clear("pq")
    memo.clear("ivfpq")
    cold = sorted(map(tuple, pq.pq_topk(e, k=5, n_queries=10).collect()))
    assert memo.stats()["pq"]["entries"] > 0, "cold build must populate the memo"
    hits = memo.stats()["pq"]["hits"]
    warm = sorted(map(tuple, pq.pq_topk(e, k=5, n_queries=10).collect()))
    assert memo.stats()["pq"]["hits"] > hits
    assert cold == warm

    # memo-bypassing train == memoized train (codebooks and codes)
    cb_m, codes_m = pq.pq_train_encode(e)
    cb_f, codes_f = pq._train_encode(e, "vec_id", "embedding")
    assert sorted(map(tuple, cb_m.collect())) == sorted(map(tuple, cb_f.collect()))
    assert sorted(map(tuple, codes_m.collect())) == sorted(map(tuple, codes_f.collect()))

    # ivfpq: cold vs memo-hit, across nprobe variants sharing one index
    memo.clear("ivfpq")
    cold1 = sorted(map(tuple, pq.ivfpq_topk(e, k=5, n_queries=10, nprobe=2).collect()))
    warm1 = sorted(map(tuple, pq.ivfpq_topk(e, k=5, n_queries=10, nprobe=2).collect()))
    assert cold1 == warm1
    assert memo.stats()["ivfpq"]["entries"] == 2  # the index + the nprobe=2 ADC
    # a different nprobe must NOT hit the nprobe=2 ADC memo entry
    got1 = sorted(map(tuple, pq.ivfpq_topk(e, k=5, n_queries=10, nprobe=1).collect()))
    assert memo.stats()["ivfpq"]["entries"] == 3
    assert len(got1) > 0
