"""Golden tests for operators/graph.py connected components: the
driver union-find fast path and the distributed min-label fixpoint
must produce identical labels, on both synthetic shapes and the real
near-dup pipeline output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sh_design_spark.operators.graph import connected_components


def _labels(df):
    return sorted((r["node"], r["component"]) for r in df.collect())


def _run_both(spark, node_ids, edge_pairs):
    nodes = spark.createDataFrame([(n,) for n in node_ids], "node bigint")
    edges = spark.createDataFrame(
        edge_pairs or [], "src bigint, dst bigint"
    )
    uf = _labels(connected_components(nodes, edges))
    dist = _labels(connected_components(nodes, edges, collect_threshold=0))
    assert uf == dist
    return uf


def test_cc_basic_shapes(spark):
    # two cliques, one chain, isolated nodes
    labels = dict(
        _run_both(
            spark,
            range(12),
            [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (7, 8)],
        )
    )
    assert labels[0] == labels[1] == labels[2] == 0
    assert labels[3] == labels[4] == 3
    assert labels[5] == labels[6] == labels[7] == labels[8] == 5
    for iso in (9, 10, 11):
        assert labels[iso] == iso


def test_cc_long_chain_converges(spark):
    # chain of 20 — needs multiple propagation rounds
    n = 20
    labels = dict(_run_both(spark, range(n), [(i, i + 1) for i in range(n - 1)]))
    assert all(labels[i] == 0 for i in range(n))


def test_cc_empty_edges(spark):
    labels = dict(_run_both(spark, range(5), []))
    assert all(labels[i] == i for i in range(5))


def test_cc_unconverged_warns(spark):
    nodes = spark.createDataFrame([(i,) for i in range(10)], "node bigint")
    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], "src bigint, dst bigint")
    with pytest.warns(RuntimeWarning, match="no fixpoint"):
        connected_components(nodes, edges, max_iter=2, collect_threshold=0).collect()


def test_cc_on_neardup_pairs(spark):
    from etl_sh_design_spark.operators.dedup import minhash_lsh_pairs
    from etl_sh_design_spark.registry import _corpus_mutated
    from tests.conftest import SF_SMOKE

    corpus = _corpus_mutated(spark, SF_SMOKE)
    pairs = minhash_lsh_pairs(corpus).cache()
    nodes = corpus.select(F.col("doc_id").alias("node"))
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    uf = _labels(connected_components(nodes, edges))
    dist = _labels(connected_components(nodes, edges, collect_threshold=0))
    assert uf == dist
    # every component id is the min node id of its members
    comp_min: dict = {}
    for node, comp in uf:
        comp_min.setdefault(comp, node)
        comp_min[comp] = min(comp_min[comp], node)
    assert all(comp == mn for comp, mn in comp_min.items())


def _labels_star(spark, node_ids, edge_pairs, max_iter=25):
    nodes = spark.createDataFrame([(n,) for n in node_ids], "node bigint")
    edges = spark.createDataFrame(edge_pairs or [], "src bigint, dst bigint")
    return _labels(
        connected_components(
            nodes, edges, collect_threshold=0, strategy="star", max_iter=max_iter
        )
    )


def test_cc_star_basic_shapes(spark):
    """large-star/small-star == union-find on mixed shapes."""
    node_ids = range(12)
    edge_pairs = [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (7, 8)]
    assert _labels_star(spark, node_ids, edge_pairs) == _run_both(
        spark, node_ids, edge_pairs
    )


def test_cc_star_long_chain_few_rounds(spark):
    """The adversarial case the star variant exists for: a 64-node
    chain (diameter 63) must close in O(log^2 n) alternations — 8
    rounds here — where min-label propagation would need ~63."""
    n = 64
    got = dict(_labels_star(spark, range(n), [(i, i + 1) for i in range(n - 1)], max_iter=8))
    assert all(got[i] == 0 for i in range(n))


def test_cc_star_random_equivalence(spark):
    """Randomized (seeded) graph: star == union-find labels exactly."""
    import random

    rng = random.Random(7)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node bigint")
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    uf = _labels(connected_components(nodes, edf))
    star = _labels(connected_components(nodes, edf, collect_threshold=0, strategy="star"))
    assert uf == star


def test_cc_star_empty_and_isolated(spark):
    assert _labels_star(spark, range(5), []) == [(i, i) for i in range(5)]


def test_cc_star_max_centered_star(spark):
    """Regression: edges {(2,4),(3,4)} form a star centered at the MAX
    node — chain-free, so the old fixpoint test (parents∩children only)
    declared convergence while node 4 still had two parents, emitting
    node 4 under BOTH components 2 and 3 (a duplicate row violating the
    one-row-per-node contract) and leaving 2 and 3 unmerged. The
    strengthened test also requires every child to appear in exactly
    one edge, forcing one more round."""
    got = _labels_star(spark, [2, 3, 4], [(2, 4), (3, 4)])
    assert got == [(2, 2), (3, 2), (4, 2)]
    # and == union-find on the same graph
    assert got == _run_both(spark, [2, 3, 4], [(2, 4), (3, 4)])


def test_cc_star_one_row_per_node_random_shapes(spark):
    """Contract check the duplicate-row bug class violates: exactly one
    output row per node, across several seeded sparse graphs (sparse →
    more star-shaped intermediates than the dense seed-7 graph)."""
    import random

    for seed in (11, 23, 42):
        rng = random.Random(seed)
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(25)]
        edges = [(a, b) for a, b in edges if a != b]
        got = _labels_star(spark, range(n), edges)
        assert len(got) == n, f"seed {seed}: duplicate/missing node rows"
        assert got == _run_both(spark, range(n), edges), f"seed {seed}"
