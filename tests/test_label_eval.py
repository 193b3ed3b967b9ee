"""Golden tests for the kNN label-eval pair (registry_vectors) on crafted
geometry: the oracle replay (test_driver_contract) cross-checks the
engines against each other; these pin the SEMANTICS — vote tie-break,
probe-panel membership, cohesion/margin arithmetic — against values
computed by hand."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_sh_design_spark.registry import queries


def _write_embeddings(spark, tmp_path, rows):
    """rows: list of (vec_id, [floats], label) — padded to dim 8."""
    df = spark.createDataFrame(
        [(int(v), [float(x) for x in e], int(l)) for v, e, l in rows],
        "vec_id long, embedding array<float>, label int",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    return str(tmp_path)


def test_knn_vote_tie_breaks_to_smallest_label(spark, tmp_path):
    """Probe 0's three nearest neighbors carry labels 2, 1, 1 when
    distinct — but arranged as three DIFFERENT labels at equal vote
    weight the prediction must be the SMALLEST label. Geometry: probe
    at e0; three neighbors at distinct small angles (cosines 0.999…,
    tie-free ranking); labels 3, 1, 2 -> votes 1/1/1 -> predict 1."""
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (0, base, 1),  # probe (0 % 7 == 0, < 3500)
        (8, [1.0, 0.01, 0.0, 0.0], 3),
        (9, [1.0, 0.02, 0.0, 0.0], 1),
        (10, [1.0, 0.03, 0.0, 0.0], 2),
        # far-away distractor that must not enter top-3
        (11, [0.0, 0.0, 1.0, 0.0], 9),
    ]
    sf = _write_embeddings(spark, tmp_path, rows)
    out = {
        r["label"]: r
        for r in queries()["knn_label_accuracy"](spark, sf).collect()
    }
    # probe 0 (true label 1): votes {3:1, 1:1, 2:1} -> tie -> predict 1
    assert out[1]["n_probes"] == 1
    assert out[1]["n_correct"] == 1
    assert out[1]["accuracy"] == pytest.approx(1.0)


def test_knn_probe_panel_is_capped(spark, tmp_path):
    """vec_id 3500 is %7==0 but outside the fixed panel — it must not
    appear as a probe (the cap is what keeps exact eval linear in N)."""
    rows = [
        (0, [1.0, 0.0], 1),
        (7, [1.0, 0.1], 1),
        (3500, [1.0, 0.2], 2),  # %7==0 but >= 3500: corpus-only
        (8, [1.0, 0.15], 1),
    ]
    sf = _write_embeddings(spark, tmp_path, rows)
    out = queries()["knn_label_accuracy"](spark, sf)
    total_probes = out.agg(F.sum("n_probes")).collect()[0][0]
    assert total_probes == 2  # vec_id 0 and 7 only


def test_class_separation_identical_members_cohere_perfectly(spark, tmp_path):
    """Two labels, each a set of identical vectors: cohesion == 1.0
    exactly, nearest-other-centroid similarity == the hand-computed
    inter-vector cosine, margin = 1 - that."""
    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.6, 0.8, 0.0, 0.0]  # unit; cos(a, b) = 0.6
    rows = [(0, a, 0), (1, a, 0), (2, b, 1), (3, b, 1)]
    sf = _write_embeddings(spark, tmp_path, rows)
    out = {r["label"]: r for r in queries()["class_separation"](spark, sf).collect()}
    for lbl in (0, 1):
        assert out[lbl]["n_vecs"] == 2
        assert out[lbl]["cohesion"] == pytest.approx(1.0, abs=1e-6)
        assert out[lbl]["max_other_sim"] == pytest.approx(0.6, abs=1e-6)
        assert out[lbl]["margin"] == pytest.approx(0.4, abs=1e-6)


def test_class_separation_margin_orders_mixed_vs_tight(spark, tmp_path):
    """A tight cluster must post a larger margin than a label whose
    members straddle two directions (its centroid sits between them,
    cohesion < 1)."""
    tight = [(i, [0.0, 0.0, 1.0, 0.0], 5) for i in range(3)]
    spread = [
        (10, [1.0, 0.25, 0.0, 0.0], 6),
        (11, [0.25, 1.0, 0.0, 0.0], 6),
    ]
    rows = tight + spread
    sf = _write_embeddings(spark, tmp_path, rows)
    out = {r["label"]: r for r in queries()["class_separation"](spark, sf).collect()}
    assert out[5]["cohesion"] == pytest.approx(1.0, abs=1e-6)
    assert out[6]["cohesion"] < 1.0 - 1e-4
    assert out[5]["margin"] > out[6]["margin"]
