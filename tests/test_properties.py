"""Hypothesis property tests for the operator kernels: the pure-Python
ones need no SparkSession; the polygon ray cast runs on the session."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_sh_design_spark.operators.partition import best_partition
from etl_sh_design_spark.operators.polygon import point_in_polygon


@given(st.integers(min_value=0, max_value=200))
def test_partition_properties(n):
    p = best_partition(n, (7, 6, 3))
    assert sum(p) <= n
    assert all(f in (7, 6, 3) for f in p)
    assert list(p) == sorted(p, reverse=True)
    # residual minimality: no single extra flavor could still fit
    residual = n - sum(p)
    assert residual < 3 or n < 3


@given(
    st.integers(min_value=1, max_value=40),
    st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
    st.floats(min_value=1e-3, max_value=1e3, allow_nan=False),
)
def test_binspec_properties(nbins, lo, width):
    from etl_sh_design_spark.operators.histogram import BinSpec

    hi = lo + nbins * width
    spec = BinSpec(nbins, lo, hi)
    for frac in (0.0, 0.25, 0.5, 0.999):
        x = lo + frac * (hi - lo)
        if not (lo <= x < hi):
            continue
        b = math.floor((x - spec.lo) / spec.width)
        assert 0 <= b < nbins or math.isclose(x, hi)


# one Spark job per example: far over hypothesis' default 200 ms deadline
@settings(max_examples=50, deadline=None)
@given(
    st.floats(min_value=-2, max_value=2, allow_nan=False),
    st.floats(min_value=-2, max_value=2, allow_nan=False),
)
def test_ray_cast_unit_square(spark, px, py):
    square = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    pt = spark.createDataFrame([(px, py)], "px DOUBLE, py DOUBLE")
    got = pt.select(point_in_polygon("px", "py", square)).first()[0]
    on_edge = px in (0.0, 1.0) or py in (0.0, 1.0)
    if not on_edge:
        assert got == (0.0 < px < 1.0 and 0.0 < py < 1.0)


@settings(max_examples=30)
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=5))
def test_md5_int64_range(texts):
    """The cross-engine hash must stay within 60 bits (DuckDB BIGINT
    parse of 15 hex chars)."""
    import hashlib

    for t in texts:
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        assert 0 <= h < (1 << 60)


def _greedy_pack_ref(tokens, budget):
    """Pure-Python reference for greedy_pack within one shard."""
    chunks = []
    run, n = 0, 0
    for tok in tokens:
        if n == 0 or run + tok > budget:
            if n > 0:
                chunks.append((n, run))
            run, n = 0, 0
        run += tok
        n += 1
    if n > 0:
        chunks.append((n, run))
    return chunks


@given(
    st.lists(st.integers(min_value=0, max_value=900), min_size=0, max_size=60),
    st.integers(min_value=1, max_value=512),
)
def test_greedy_pack_reference_properties(tokens, budget):
    chunks = _greedy_pack_ref(tokens, budget)
    assert sum(n for n, _ in chunks) == len(tokens)
    assert sum(t for _, t in chunks) == sum(tokens)
    for n, t in chunks:
        assert t <= budget or n == 1
    # greediness: merging any adjacent pair would overflow the budget
    for (_, t1), (_, t2) in zip(chunks, chunks[1:]):
        assert t1 + t2 > budget


def test_ntile_closed_form_matches_definition():
    """The distributed ntile_acctbal computes buckets from a closed
    form of the global rank; for every n the resulting bucket sizes
    must equal SQL ntile(4)'s definition (first n%4 buckets take
    floor(n/4)+1 rows) and be monotone in rank."""
    from collections import Counter

    for n in range(1, 500):
        base, rem = divmod(n, 4)
        cut = rem * (base + 1)
        buckets = []
        for r in range(1, n + 1):
            if r <= cut:
                q = (r - 1) // max(base + 1, 1) + 1
            else:
                q = rem + (r - cut - 1) // max(base, 1) + 1
            buckets.append(q)
        got = Counter(buckets)
        want = {
            i + 1: (base + 1 if i < rem else base)
            for i in range(4)
            if (base + 1 if i < rem else base) > 0
        }
        assert got == dict(want), n
        assert buckets == sorted(buckets), n


def test_chunk_count_formula_matches_reference_loop():
    """doc_chunks' integer ceil formula must equal the naive
    chunking loop (starts at 0, advance by stride while the window
    doesn't reach the end) for every token count."""
    size, stride = 128, 96
    for n_tokens in range(0, 2000):
        if n_tokens == 0:
            formula = 0
        else:
            formula = 1 + (max(n_tokens - size, 0) + stride - 1) // stride
        starts = [0] if n_tokens > 0 else []
        while starts and starts[-1] + size < n_tokens:
            starts.append(starts[-1] + stride)
        assert formula == len(starts), n_tokens
        for st in starts:
            assert 1 <= min(size, n_tokens - st) <= size


def test_slot_states_window_matches_sequential_machine(spark):
    """dee_faces.slot_states (the one-maybe-per-row rule as one window
    pass) equals the reference's sequential machine on every row of up
    to 7 slots, each slot 'yes' / module-only / neither — one (face,
    iy) row per sequence."""
    import itertools

    import tools.ref_tiling_golden as G
    from etl_sh_design_spark.plans import dee_faces

    kinds = [(True, False), (False, True), (False, False)]
    seqs = [list(c) for n in range(1, 8) for c in itertools.product(kinds, repeat=n)]
    flags = spark.createDataFrame(
        [
            ("f", iy, ix, 0.0, 0.0, sm, mod and not sm)
            for iy, seq in enumerate(seqs)
            for ix, (sm, mod) in enumerate(seq)
        ],
        "face STRING, iy INT, ix INT, xc DOUBLE, yc DOUBLE, sm_ok BOOLEAN, mod_only BOOLEAN",
    )
    got: dict[int, dict[int, str]] = {}
    for r in dee_faces.slot_states(flags).collect():
        got.setdefault(r.iy, {})[r.ix] = r.state
    for iy, seq in enumerate(seqs):
        assert [got[iy][ix] for ix in range(len(seq))] == G.availability_states(seq), seq
