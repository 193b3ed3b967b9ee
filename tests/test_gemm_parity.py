"""Round-12 GEMM/HOF parity: every operator whose scoring moved from
zip_with/aggregate higher-order functions to a broadcast-panel BLAS
GEMM inside mapInPandas keeps the relational form behind
use_gemm=False, and the two paths must be ROW-IDENTICAL on the real
corpus (values compared exactly — the batch-side np.round discipline
must reproduce the JVM fold's 6-dp boundaries, not approximate them).

Covered paths:
- operators/similarity.cosine_topk (consumers: similarity_topk,
  knn_label_accuracy + _stratified, ann_multiprobe_recall,
  lsh_recall_eval's brute side)
- registry_vectors.hnm_result (hard_negative_mining)
- registry_vectors.semantic_decontamination_result
  (semantic_decontamination)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE

SFS = (SF_SMOKE, SF_ORACLE)


def _rows(df):
    return sorted(map(str, df.collect()))


def test_cosine_topk_gemm_matches_hof(spark):
    from etl_sh_design_spark.operators.similarity import cosine_topk

    for sf in SFS:
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        # two panel shapes: the knn_label_accuracy panel and a
        # differently-strided one (different tie structure)
        for mod, cap in ((7, 3500), (11, 900)):
            probes = e.filter(
                (F.col("vec_id") % mod == 0) & (F.col("vec_id") < cap)
            )
            a = _rows(cosine_topk(probes, e, k=3, use_gemm=True))
            b = _rows(cosine_topk(probes, e, k=3, use_gemm=False))
            assert a == b, f"cosine_topk diverged at {sf} mod={mod}"
            assert len(a) > 0


def test_hard_negative_mining_gemm_matches_hof(spark):
    from etl_sh_design_spark.registry_vectors import hnm_result

    for sf in SFS:
        a = _rows(hnm_result(spark, sf, use_gemm=True))
        b = _rows(hnm_result(spark, sf, use_gemm=False))
        assert a == b, f"hard_negative_mining diverged at {sf}"
        assert len(a) > 0


def test_semantic_decontamination_gemm_matches_hof(spark):
    from etl_sh_design_spark.registry_vectors import semantic_decontamination_result

    for sf in SFS:
        a = _rows(semantic_decontamination_result(spark, sf, use_gemm=True))
        b = _rows(semantic_decontamination_result(spark, sf, use_gemm=False))
        assert a == b, f"semantic_decontamination diverged at {sf}"
        assert len(a) > 0
