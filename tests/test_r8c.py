"""Semantic invariants for the round-8c curation shapes
(registry_quality, registry_dedup, registry_selection,
registry_vectors): perplexity bucketing, the quality retention curve,
normalized dedup, embedding dimension stats, and the per-source cap.
Cross-engine value equality is covered by test_driver_contract's full
oracle replay; these pin the invariants a hash match alone would not
explain."""

from __future__ import annotations

from etl_sh_design_spark.registry_dedup import q_normalized_dedup
from etl_sh_design_spark.registry_quality import (
    q_perplexity_buckets,
    q_quality_retention_curve,
)
from etl_sh_design_spark.registry_selection import _CAP_K, q_source_cap_sample
from etl_sh_design_spark.registry_vectors import q_embedding_dim_stats
from tests.conftest import SF_SMOKE


def test_perplexity_buckets_are_balanced_terciles(spark, duck):
    out = {r["bucket"]: r for r in q_perplexity_buckets(spark, SF_SMOKE).collect()}
    assert set(out) == {"head", "middle", "tail"}
    n_docs, = duck.execute(
        r"""SELECT count(*) FROM documents
        WHERE len(list_filter(string_split_regex(text, '\s+'),
                              t -> t != '')) > 0"""
    ).fetchone()
    counts = {b: r["n_docs"] for b, r in out.items()}
    assert sum(counts.values()) == n_docs
    # terciles: each bucket holds ~n/3 (ties on the rounded NLL can
    # push a few docs across a boundary, nothing more)
    for b, c in counts.items():
        assert abs(c - n_docs / 3) <= max(3, 0.1 * n_docs), (b, counts)
    # fluency ordering is the bucketing key itself
    assert out["head"]["mean_nll"] < out["middle"]["mean_nll"] < out["tail"]["mean_nll"]
    assert out["head"]["mean_ppl"] < out["tail"]["mean_ppl"]


def test_quality_retention_curve_is_monotone(spark):
    rows = sorted(
        q_quality_retention_curve(spark, SF_SMOKE).collect(),
        key=lambda r: r["thr_pct"],
    )
    assert [r["thr_pct"] for r in rows] == list(range(0, 100, 10))
    # thr=0 keeps everything
    assert rows[0]["token_retention"] == 1.0
    # both curves are non-increasing in the threshold
    for lo, hi in zip(rows, rows[1:]):
        assert hi["n_docs_kept"] <= lo["n_docs_kept"]
        assert hi["token_retention"] <= lo["token_retention"]


def test_normalized_dedup_catches_planted_variants(spark, duck):
    rows = q_normalized_dedup(spark, SF_SMOKE).collect()
    assert rows
    planted = dict(
        duck.execute(
            "SELECT source, count(*) FROM documents WHERE doc_id % 10 = 0 GROUP BY 1"
        ).fetchall()
    )
    base = dict(
        duck.execute("SELECT source, count(*) FROM documents GROUP BY 1").fetchall()
    )
    for r in rows:
        # corpus = originals + planted twins
        assert r["n_docs"] == base[r["source"]] + planted.get(r["source"], 0)
        # raw hashing sees every planted twin as unique text
        assert r["n_exact"] == r["n_docs"]
        # the normalized key collapses EVERY planted twin (and nothing
        # else: sf docs are unique after normalization)
        assert r["n_norm"] == base[r["source"]]
        assert 0.0 <= r["norm_dup_ratio"] < 1.0


def test_normalization_key_cross_engine_whitespace_edges(spark, duck):
    """The whitespace class in the normalized-dedup key is explicit
    because Java's \\s includes U+000B while RE2's does not (ADVICE
    r8): pin byte-identical normalization on both engines for every
    ASCII whitespace char, ESPECIALLY \\x0B, plus punctuation and
    collapsing runs."""
    from etl_sh_design_spark.registry import _NORM_DUCK, _NORM_SPARK

    texts = [
        "Hello,  World!",
        "a\x0bb",
        "tab\tand\nnewline\fff\rcr",
        "mix \x0b\t x",
        " \x0b ",
        "no-ws",
    ]
    sdf = spark.createDataFrame([(t,) for t in texts], "text string")
    got_spark = [r[0] for r in sdf.selectExpr(_NORM_SPARK + " AS n").collect()]
    got_duck = [
        duck.execute(
            f"SELECT {_NORM_DUCK} FROM (SELECT ? AS text)", [t]
        ).fetchone()[0]
        for t in texts
    ]
    assert got_spark == got_duck
    assert got_spark[1] == "a b"  # \x0B collapses like any whitespace
    assert got_spark[4] == ""


def test_embedding_dim_stats_shape(spark, duck):
    rows = q_embedding_dim_stats(spark, SF_SMOKE).collect()
    dim, n_vecs = duck.execute(
        "SELECT max(len(embedding)), count(*) FROM embeddings"
    ).fetchone()
    assert len(rows) == dim
    assert sorted(r["dim"] for r in rows) == list(range(dim))
    for r in rows:
        assert r["n"] == n_vecs
        assert r["min_x"] <= r["mean_x"] <= r["max_x"]
        assert r["std_x"] >= 0.0


def test_source_cap_sample_caps_every_source(spark):
    rows = q_source_cap_sample(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_kept"] == min(_CAP_K, r["n_docs"])
        assert 0.0 < r["token_retention"] <= 1.0
        # the cap keeps the HIGHEST-quality docs; their token share
        # can't be less than a uniform draw of the same doc count
        # would give only in pathological corpora — don't over-assert,
        # just sanity-bound it
        if r["n_docs"] > r["n_kept"]:
            assert r["token_retention"] < 1.0


def test_dup_ngram_fraction_shape_and_bounds(spark, duck):
    from etl_sh_design_spark.registry_quality import q_dup_ngram_fraction

    rows = q_dup_ngram_fraction(spark, SF_SMOKE).collect()
    assert rows
    # every (source, n) cell reports exactly the docs long enough for n
    eligible = {
        (s, n): c
        for s, n, c in duck.execute(
            r"""SELECT source, n, count(*) FROM (
              SELECT source, len(list_filter(string_split_regex(text, '\s+'),
                                 t -> t != '')) AS n_toks FROM documents),
              (SELECT unnest([5,6,7,8,9,10]) AS n)
            WHERE n_toks >= n GROUP BY 1, 2"""
        ).fetchall()
    }
    seen = set()
    for r in rows:
        assert 5 <= r["n"] <= 10
        assert r["n_docs"] == eligible[(r["source"], r["n"])]
        assert 0.0 <= r["avg_coverage"] <= 1.0
        assert 0.0 <= r["breach_ratio"] <= 1.0
        seen.add((r["source"], r["n"]))
    assert seen == set(eligible)


def test_context_window_fit_monotone(spark, duck):
    from etl_sh_design_spark.registry_selection import q_context_window_fit

    rows = sorted(
        q_context_window_fit(spark, SF_SMOKE).collect(),
        key=lambda r: r["window_size"],
    )
    assert [r["window_size"] for r in rows] == [128, 512, 2048]
    n_docs, = duck.execute("SELECT count(*) FROM documents").fetchone()
    for r in rows:
        assert r["n_docs"] == n_docs
        assert 0 <= r["n_fit"] <= n_docs
        assert 0.0 <= r["trunc_loss_ratio"] <= 1.0
    # widening the window can only fit more docs and lose fewer tokens
    for lo, hi in zip(rows, rows[1:]):
        assert hi["n_fit"] >= lo["n_fit"]
        assert hi["trunc_loss_ratio"] <= lo["trunc_loss_ratio"]


def test_cross_source_leakage_traces_to_plants(spark, duck):
    from etl_sh_design_spark.registry_selection import q_cross_source_leakage

    rows = q_cross_source_leakage(spark, SF_SMOKE).collect()
    # expected pairs: for every doc_id%10==0 doc with a successor doc,
    # the (doc source, successor source) pair — unordered, de-duplicated
    # by normalized content within the pair
    expected = duck.execute(
        """
        SELECT least(d.source, o.source), greatest(d.source, o.source),
               count(DISTINCT md5(trim(regexp_replace(regexp_replace(
                 lower(d.text), '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g'))))
        FROM documents d JOIN documents o ON o.doc_id = d.doc_id + 1
        WHERE d.doc_id % 10 = 0 AND d.source != o.source
        GROUP BY 1, 2
        """
    ).fetchall()
    got = {(r["source_a"], r["source_b"]): r["n_shared_docs"] for r in rows}
    for a, b, n in expected:
        assert (a, b) in got
        # plants guarantee AT LEAST these shared docs (natural dups could add)
        assert got[(a, b)] >= min(n, 1)
    for (a, b), n in got.items():
        assert a < b and n >= 1


def test_hard_negative_mining_invariants(spark, duck):
    from etl_sh_design_spark.registry_vectors import q_hard_negative_mining

    rows = q_hard_negative_mining(spark, SF_SMOKE).collect()
    # mirror the query's FULL panel predicate (vec_id % 9 = 0 AND
    # vec_id < 500) — the old count omitted the < 500 cap and passed
    # only because the smoke fixture has < 500 vectors (ADVICE r8). A
    # zero-norm anchor produces no scored pair at all (the query drops
    # n_p = 0 rows before grouping), so tolerate anchor dropout by
    # counting only anchors with a non-zero norm.
    n_anchors, = duck.execute(
        """SELECT count(*) FROM embeddings
           WHERE vec_id % 9 = 0 AND vec_id < 500
             AND list_sum(list_transform(embedding, x -> x * x)) > 0"""
    ).fetchone()
    assert len(rows) == n_anchors
    assert all(r["a_id"] < 500 for r in rows)
    for r in rows:
        assert r["a_id"] % 9 == 0
        # the positive and the negative are distinct vectors, never
        # the anchor itself
        assert r["pos_id"] != r["a_id"] and r["neg_id"] != r["a_id"]
        if r["pos_id"] is not None and r["neg_id"] is not None:
            assert r["pos_id"] != r["neg_id"]
            assert -1.0 <= r["neg_cos"] <= 1.0
            assert -1.0 <= r["pos_cos"] <= 1.0
            assert abs((r["pos_cos"] - r["neg_cos"]) - r["margin"]) < 1e-9


def test_vision_token_budget_reconciles(spark, duck):
    from etl_sh_design_spark.registry_selection import q_vision_token_budget

    rows = q_vision_token_budget(spark, SF_SMOKE).collect()
    assert rows
    txt = dict(
        duck.execute(
            r"""SELECT source, sum(len(list_filter(
                string_split_regex(text, '\s+'), t -> t != '')))
            FROM documents GROUP BY 1"""
        ).fetchall()
    )
    for r in rows:
        assert r["text_tokens"] == txt[r["source"]]
        # every stubbed image is at least 1x1 -> at least 1 patch/doc
        assert r["vision_tokens"] >= r["n_docs"]
        assert 0.0 < r["vision_frac"] < 1.0


def test_ivf_mining_is_cell_consistent_with_exact(spark):
    """The IVF-mined positive/negative can only score <= the exact-
    mined ones (cell restriction never invents a better candidate),
    and every anchor still appears."""
    from etl_sh_design_spark.registry_vectors import (
        q_hard_negative_mining,
        q_hard_negative_mining_ivf,
    )

    exact = {r["a_id"]: r for r in q_hard_negative_mining(spark, SF_SMOKE).collect()}
    ivf = {r["a_id"]: r for r in q_hard_negative_mining_ivf(spark, SF_SMOKE).collect()}
    assert set(ivf) == set(exact)
    agree = 0
    for a_id, r in ivf.items():
        e = exact[a_id]
        if r["pos_cos"] is not None and e["pos_cos"] is not None:
            assert r["pos_cos"] <= e["pos_cos"] + 1e-9
            agree += r["pos_id"] == e["pos_id"]
        if r["neg_cos"] is not None and e["neg_cos"] is not None:
            assert r["neg_cos"] <= e["neg_cos"] + 1e-9
    # the index should find the true top-1 for a reasonable share of
    # anchors (recall floor; exact agreement measured, not assumed)
    assert agree >= len(ivf) // 4


def test_leakage_safe_split_invariants(spark):
    """Cluster-hash splitting cannot straddle by construction; the
    naive-straddle audit must count >= 1 straddled cluster whenever a
    multi-doc cluster's members hash apart (exercised by the planted
    near-dup fixture), and split sizes reconcile."""
    from etl_sh_design_spark.registry_dedup import dedup_components
    from etl_sh_design_spark.registry_dedup import q_leakage_safe_split

    rows = q_leakage_safe_split(spark, SF_SMOKE).collect()
    comp = dedup_components(spark, SF_SMOKE)
    n_docs = comp.count()
    n_clusters = comp.select("component").distinct().count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["n_clusters"] for r in rows) == n_clusters
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    for r in rows:
        assert r["n_docs"] >= r["n_clusters"]
        assert 0 <= r["naive_straddled_clusters"] <= r["n_clusters"]


def test_soft_dedup_weights_reconcile(spark):
    """1/s weighting: effective tokens of a size-s bucket must equal
    raw/s, singletons are untouched, and doc counts reconcile with the
    component table."""
    from etl_sh_design_spark.registry_dedup import dedup_components
    from etl_sh_design_spark.registry_dedup import q_dedup_soft_weights

    rows = q_dedup_soft_weights(spark, SF_SMOKE).collect()
    assert rows
    comp_n = dedup_components(spark, SF_SMOKE).count()
    assert sum(r["n_docs"] for r in rows) == comp_n
    for r in rows:
        s = r["cluster_size"]
        assert r["n_docs"] == s * r["n_clusters"]
        assert abs(r["effective_tokens"] - r["raw_tokens"] / s) < 0.01
        if s == 1:
            assert r["effective_tokens"] == r["raw_tokens"]


def test_lsh_band_tuning_scurve_and_ordering(spark):
    """Theory: more bands of fewer rows = higher collision
    probability at every J; measured candidates must follow the same
    ordering, and the (4,4) row must reproduce the shipped default's
    candidate count."""
    from etl_sh_design_spark.registry_dedup import dedup_lsh_pairs
    from etl_sh_design_spark.registry_dedup import q_lsh_band_tuning

    rows = {
        (r["n_bands"], r["band_rows"]): r
        for r in q_lsh_band_tuning(spark, SF_SMOKE).collect()
    }
    assert set(rows) == {(8, 2), (4, 4), (2, 8)}
    for j in ("p_at_05", "p_at_07", "p_at_09"):
        assert rows[(8, 2)][j] > rows[(4, 4)][j] > rows[(2, 8)][j]
    for r in rows.values():
        assert 0.0 < r["p_at_05"] < r["p_at_07"] < r["p_at_09"] <= 1.0
    assert (
        rows[(8, 2)]["n_candidates"]
        >= rows[(4, 4)]["n_candidates"]
        >= rows[(2, 8)]["n_candidates"]
    )
