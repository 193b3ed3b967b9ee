"""Golden tests for the monitoring pair (registry_quality): identity and
planted-shift behavior the oracle replay can't distinguish from
"both engines share the same bug"."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sh_design_spark.registry import queries


def _write_docs(spark, tmp_path, rows):
    """rows: (doc_id, text, source). n_chars derived."""
    df = spark.createDataFrame(
        [(int(i), t, s, len(t)) for i, t, s in rows],
        "doc_id long, text string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def _churn_free_id(i: int) -> int:
    """doc_ids untouched by the v2 churn fixture (%17!=3, %11!=5,
    %13!=7) — v2 == v1 exactly for a corpus of these."""
    cand = 17 * 11 * 13 * (i + 1)  # multiples: mod 17/11/13 == 0
    assert cand % 17 != 3 and cand % 11 != 5 and cand % 13 != 7
    return cand


def test_psi_zero_when_snapshots_identical(spark, tmp_path):
    """A corpus whose ids dodge every churn modulus derives v2 == v1,
    so every psi_term and the total must be exactly 0 (the 1e-6 floor
    applies identically to both sides of each bin)."""
    texts = [
        "the cat sat on the mat and it is a fine day to be out",
        "an apple a day keeps the doctor away or so it is said",
        "short text",
        "punctuation!!! heavy??? text,,, with;;; lots... of::: marks",
    ]
    rows = [(_churn_free_id(i), t, f"src{i % 2}") for i, t in enumerate(texts)]
    sf = _write_docs(spark, tmp_path, rows)
    out = queries()["quality_psi_drift"](spark, sf).collect()
    assert len(out) == 10
    for r in out:
        assert r["n_v1"] == r["n_v2"]
        assert r["psi_term"] == pytest.approx(0.0, abs=1e-9)
        assert r["psi_total"] == pytest.approx(0.0, abs=1e-9)


def test_psi_flags_planted_shift(spark, tmp_path):
    """Docs on the %11==5 edit path get ' edited' appended in v2 —
    build the corpus so the edit flips their length-score bin; PSI
    must come out positive and mass must move between the two bins."""
    # 99-token docs score len_score 0.99 -> bin changes when one token
    # is appended (100 tokens -> 1.0 component); amplify by using many
    # such docs on the edit path (id % 11 == 5) vs none elsewhere.
    base = " ".join(["tok"] * 49)  # 49 tokens -> len_score 0.49
    edit_ids = [11 * k + 5 for k in range(1, 30) if (11 * k + 5) % 17 != 3]
    keep_ids = [_churn_free_id(i) for i in range(10)]
    rows = [(i, base, "src0") for i in edit_ids + keep_ids]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["bin"]: r for r in queries()["quality_psi_drift"](spark, sf).collect()}
    total = out[0]["psi_total"]
    assert total > 0.0
    # v2 adds ' edited' -> 50 tokens; the edited docs' score moves, so
    # at least one bin must lose v2 mass and another must gain it
    gained = any(r["n_v2"] > r["n_v1"] for r in out.values())
    lost = any(r["n_v2"] < r["n_v1"] for r in out.values())
    assert gained and lost


def test_ab_test_symmetric_sources_not_significant(spark, tmp_path):
    """Two sources with identical text multisets: keep rates equal,
    z == 0, significant == 0 for both."""
    good = " ".join(["the", "cat", "is", "here"] * 30)  # passes the gate
    bad = "x!" * 40  # punctuation-heavy, fails
    rows = []
    i = 0
    for src in ("a", "b"):
        for t in [good] * 5 + [bad] * 5:
            rows.append((i, t, src))
            i += 1
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["source"]: r for r in queries()["keep_rate_ab_test"](spark, sf).collect()}
    for src in ("a", "b"):
        assert out[src]["keep_rate"] == pytest.approx(0.5)
        assert out[src]["z"] == pytest.approx(0.0, abs=1e-9)
        assert out[src]["significant"] == 0


def test_ab_test_flags_planted_regression(spark, tmp_path):
    """One source keeps ~0%, the other ~100%, n large enough that the
    two-proportion z clears 1.96 with opposite signs."""
    good = " ".join(["the", "cat", "is", "here"] * 30)
    bad = "x!" * 40
    rows = [(i, good, "healthy") for i in range(40)]
    rows += [(100 + i, bad, "broken") for i in range(40)]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r["source"]: r for r in queries()["keep_rate_ab_test"](spark, sf).collect()}
    assert out["healthy"]["z"] > 1.96 and out["healthy"]["significant"] == 1
    assert out["broken"]["z"] < -1.96 and out["broken"]["significant"] == 1


def test_minhash_error_bounds_and_consistency(spark, tmp_path):
    """On near-identical docs (one-token tail mutation — the standard
    mutated-corpus fixture applied to a tiny corpus): every candidate
    pair's est and exact Jaccard are in [0,1], abs_err ==
    |est - exact| recomputed, and the self-pair (doc vs its one-token
    -shorter clone) has exact_jaccard near 1."""
    text = " ".join(f"w{i}" for i in range(40))
    rows = [(1, text, "s"), (2, "completely different words here now", "s")]
    sf = _write_docs(spark, tmp_path, rows)
    out = queries()["minhash_estimate_error"](spark, sf).collect()
    assert out, "the mutated-corpus clone must LSH-collide with its source"
    for r in out:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["exact_jaccard"] <= 1.0
        assert r["abs_err"] == pytest.approx(
            abs(r["est_jaccard"] - r["exact_jaccard"]), abs=2e-6
        )
    best = max(out, key=lambda r: r["exact_jaccard"])
    assert best["exact_jaccard"] > 0.9
