"""Physical-plan assertions — the scale contract (SURVEY.md §4):
filters and projections must reach the parquet scan, dimension joins
must broadcast, containment joins must not degrade to a pure nested
loop when an equi-key exists, and partial aggregation must precede the
shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushdown(spark):
    """S2/§4.2: predicate + column pruning reach the parquet scan."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan
    # ReadSchema must be pruned to the two referenced columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]


def test_q5_join_broadcasts_dims(spark):
    """Q5-shaped join: every dimension side is a BroadcastHashJoin —
    the fact table never shuffles before the final aggregate."""
    from etl_sh_design_spark.registry import queries

    df = queries()["q5_region_revenue"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def _subtrees(plan: str, node: str) -> list[str]:
    """The text of every subtree of ``plan`` rooted at a ``node`` line."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if line.lstrip(" :+-").startswith(node):
            d = depth(line)
            end = next((j for j in range(i + 1, len(lines)) if depth(lines[j]) <= d), len(lines))
            out.append("\n".join(lines[i:end]))
    return out


def test_q3_streams_lineitem_under_broadcast_dims(spark):
    """Q3 shape: orders and customer broadcast and the lineitem scan
    streams — no BroadcastExchange sits over it."""
    from etl_sh_design_spark.registry import queries

    plan = _plan(queries()["q3_top_orders"](spark, SF_SMOKE))
    assert "lineitem.parquet" in plan
    exchanges = _subtrees(plan, "BroadcastExchange")
    assert len(exchanges) >= 2, plan
    assert not any("lineitem.parquet" in sub for sub in exchanges), plan
    assert "SortMergeJoin" not in plan


def test_efficiency_returns_is_one_scan_no_join(spark):
    """J7: numerator and denominator come from one aggregation over a
    single lineitem scan — no second scan, no join of two histograms."""
    from etl_sh_design_spark.registry import queries

    plan = _plan(queries()["efficiency_returns"](spark, SF_SMOKE))
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1 and "lineitem.parquet" in scans[0], plan
    assert "Join" not in plan, plan


def test_containment_join_uses_layer_hash_key(spark):
    """J1: the layer equi-conjunct must make the containment join a
    BroadcastHashJoin (range predicate as post-condition), NOT a
    BroadcastNestedLoopJoin over everything."""
    from etl_sh_design_spark.plans.acceptance import acceptance_profile

    plan = _plan(acceptance_profile(spark, 1000))
    assert "BroadcastHashJoin" in plan


def test_binned_containment_is_pure_hash_join(spark):
    """Spatial binning leaves NO nested-loop join anywhere in the
    flagship plan: each layer's lookup is a hash join on the point's
    packed cell key, and no layers cross join is left."""
    from etl_sh_design_spark.plans.acceptance import acceptance_profile

    plan = _plan(acceptance_profile(spark, 1000))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert any(
        k in plan for k in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")
    )


def test_acceptance_profile_never_joins_rays_back(spark):
    """The flagship profile is one pass over the rays: the ray
    generator is scanned exactly once, each layer is one broadcast
    ExistenceJoin in the ray stage, nothing is aggregated or joined
    per event_id (per-ray counts are never joined back to the rays),
    and the eta-bin aggregation is the only shuffle."""
    import re

    from etl_sh_design_spark.plans.acceptance import acceptance_profile

    plan = _plan(acceptance_profile(spark, 1000))
    assert not re.search(r"Join \[[^\]]*event_id", plan), plan
    assert not re.search(r"HashAggregate\(keys=\[[^\]]*event_id", plan), plan
    assert plan.count("Range (0, 1000") == 1, plan
    assert plan.count("ExistenceJoin") == 4, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_partial_aggregation_before_shuffle(spark):
    """A-series: groupBy compiles to partial HashAggregate -> Exchange
    -> final HashAggregate (map-side combine, bins-sized shuffle)."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = _plan(df)
    first_agg = plan.index("HashAggregate")
    exchange = plan.index("Exchange")
    assert plan.count("HashAggregate") >= 2
    assert first_agg < exchange


def test_binned_equals_broadcast_strategy(spark):
    """Both physical containment joins return exactly the pairs a
    brute-force strict-`<` scan finds, on seeded random data built to
    hit every edge: negative coordinates, points exactly on rect edges
    and on cell boundaries, and rects spanning two cells per axis."""
    import random

    from etl_sh_design_spark.operators.containment import (
        binned_containment_join,
        containment_join,
    )

    cell = 10.0
    rng = random.Random(20261017)

    def coord(lo, hi):
        # quarter-mm grid: coordinates, cell boundaries and quotients are exact
        return rng.randint(int(lo * 4), int(hi * 4)) / 4

    rects = []
    for rid in range(300):  # extent <= cell: at most 2 cells per axis
        x1, y1 = coord(-60, 50), coord(-60, 50)
        x2, y2 = x1 + coord(0.25, cell), y1 + coord(0.25, cell)
        rects.append((rid, rng.randint(1, 3), x1, x2, y1, y2))
    for k in range(-3, 3):  # rects straddling a cell boundary on both axes
        rects.append((len(rects), 1, k * cell - 2.5, k * cell + 2.5, k * cell - 1.0, k * cell + 7.5))
    points = []
    for _, layer, x1, x2, y1, y2 in rects:
        mx, my = (x1 + x2) / 2, (y1 + y2) / 2
        for px, py in ((mx, my), (x1, my), (x2, my), (mx, y1), (mx, y2), (x1, y1)):
            points.append((len(points), layer, px, py))
    for k in range(-6, 6):  # exactly on cell boundaries
        for j in (-2, 0, 1):
            points.append((len(points), 1, k * cell, j * cell))
            points.append((len(points), 2, k * cell, coord(-60, 60)))
    for _ in range(1500):
        points.append((len(points), rng.randint(1, 3), coord(-65, 65), coord(-65, 65)))

    want = sorted(
        (pid, rid)
        for pid, pl, px, py in points
        for rid, rl, x1, x2, y1, y2 in rects
        if pl == rl and x1 < px < x2 and y1 < py < y2
    )
    pdf = spark.createDataFrame(points, "pid INT, layer INT, px DOUBLE, py DOUBLE")
    rdf = spark.createDataFrame(
        rects, "rid INT, layer INT, ax1 DOUBLE, ax2 DOUBLE, ay1 DOUBLE, ay2 DOUBLE"
    )
    binned = binned_containment_join(pdf, rdf, cell, extra_keys=["layer"])
    broadcast = containment_join(pdf, rdf, extra_keys=["layer"])
    assert len(want) > 500
    for joined in (binned, broadcast):
        assert sorted(tuple(r) for r in joined.select("pid", "rid").collect()) == want


def test_per_ray_lookup_matches_brute_force(spark):
    """`acceptance.per_ray_hits` counts, per ray and variant, exactly
    the layers a brute-force strict-`<` scan finds, on seeded rays and
    rects built to hit every edge: negative coordinates, points exactly
    on rect edges and on cell boundaries, rects spanning two cells, two
    overlapping rects around one point in one layer (a join form would
    count or duplicate that ray twice), and two variants whose rects
    differ (a dropped correlation would mix them)."""
    import math
    import random

    from etl_sh_design_spark.datagen import LAYER_Z_MM
    from etl_sh_design_spark.plans.acceptance import CELL_MM, per_ray_hits

    rng = random.Random(20261018)
    variants = ("a", "b")

    def coord(lo, hi):
        # quarter-mm grid: rect corners and cell boundaries are exact
        return rng.randint(int(lo * 4), int(hi * 4)) / 4

    def exact_tanth(z, m):
        # the tan(theta) whose P14 product z * tanth is exactly m, so a
        # point lands on a chosen coordinate in that layer
        t = m / z
        while z * t != m:
            t = math.nextafter(t, math.inf if z * t < m else -math.inf)
        return t

    rays = [(rng.uniform(0.005, 0.05), rng.uniform(-1, 1), rng.uniform(-1, 1)) for _ in range(400)]
    for z in LAYER_Z_MM:  # on cell boundaries: p = 32 * (50 k / 32) = 50 k
        t = exact_tanth(z, 32.0)
        for k in range(-3, 3):
            for j in (-2, 0, 1, k):
                rays.append((t, k * CELL_MM / 32, j * CELL_MM / 32))
    rects = []
    for v in variants:
        for layer in range(1, 5):
            for _ in range(40):  # extent <= cell: at most 2 cells per axis
                x1, y1 = coord(-150, 140), coord(-150, 140)
                rects.append((v, layer, x1, x1 + coord(0.25, CELL_MM), y1, y1 + coord(0.25, CELL_MM)))
    for i, (t, c, s) in enumerate(rays[::5]):
        layer, v, other = 1 + i % 4, variants[i % 2], variants[1 - i % 2]
        px, py = LAYER_Z_MM[layer - 1] * t * c, LAYER_Z_MM[layer - 1] * t * s
        rects += [  # the point on each edge of a rect in one variant ...
            (v, layer, px, px + 10.0, py - 5.0, py + 5.0),
            (v, layer, px - 10.0, px, py - 5.0, py + 5.0),
            (v, layer, px - 5.0, px + 5.0, py, py + 10.0),
            (v, layer, px - 5.0, px + 5.0, py - 10.0, py),
            # ... and inside two overlapping rects of the other
            (other, layer, px - 3.0, px + 3.0, py - 2.0, py + 2.0),
            (other, layer, px - 4.0, px + 1.0, py - 1.0, py + 6.0),
        ]
    for layer in range(1, 5):
        for k in range(-3, 3):  # straddling a cell boundary on both axes
            b = k * CELL_MM
            rects += [
                ("a", layer, b - 2.5, b + 2.5, b - 1.0, b + 7.5),
                ("b", layer, b - 10.0, b, b, b + 10.0),  # (b, b) is its corner
            ]

    want = []
    for eid, (t, c, s) in enumerate(rays):
        for v in variants:
            n = 0
            for layer, z in enumerate(LAYER_Z_MM, 1):
                px, py = z * t * c, z * t * s
                n += any(
                    rv == v and rl == layer and x1 < px < x2 and y1 < py < y2
                    for rv, rl, x1, x2, y1, y2 in rects
                )
            want.append((v, eid, n))
    ray_df = spark.createDataFrame(
        [(eid, v, 2.0, t, c, s) for eid, (t, c, s) in enumerate(rays) for v in variants],
        "event_id BIGINT, variant STRING, eta DOUBLE, tanth DOUBLE, cphi DOUBLE, sphi DOUBLE",
    )
    rect_df = spark.createDataFrame(
        rects, "variant STRING, layer INT, ax1 DOUBLE, ax2 DOUBLE, ay1 DOUBLE, ay2 DOUBLE"
    )
    got = per_ray_hits(ray_df, rect_df, ["variant"]).select("variant", "event_id", "n")
    assert sorted(tuple(r) for r in got.collect()) == sorted(want)
    # the data is not degenerate: every multiplicity occurs, and the
    # variants disagree on many rays
    assert {n for _, _, n in want} == {0, 1, 2, 3, 4}
    by_ray = {}
    for v, eid, n in want:
        by_ray.setdefault(eid, set()).add(n)
    assert sum(len(ns) > 1 for ns in by_ray.values()) > 50


def test_acceptance_profile_shares_one_single_key_broadcast(spark):
    """The four layer lookups of the flagship probe one packed bigint
    cell key against ONE broadcast of the cell table: the executed plan
    has a single BroadcastExchange, keyed on one bigint column (a
    LongHashedRelation, no UnsafeRow key per probe), and the other
    three lookups are ReusedExchanges of it. A collect runs 3 jobs: the
    broadcast, the ray stage and the bins-sized aggregation."""
    import re

    from etl_sh_design_spark.plans.acceptance import acceptance_profile

    sc = spark.sparkContext
    group = "plans::acceptance_profile"
    df = acceptance_profile(spark, 1000)
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3

    final = _plan(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    (exchange,) = _subtrees(final, "BroadcastExchange")
    head = exchange.splitlines()[0]
    assert re.search(
        r"BroadcastExchange HashedRelationBroadcastMode\(List\(input\[\d+, bigint, \w+\]\),", head
    ), head
    assert "Generate explode" in exchange and "cell#" in exchange, exchange
    reused = [ln for ln in final.splitlines() if "ReusedExchange" in ln]
    assert len(reused) == 3, final
    assert all("cell#" in ln and "BroadcastExchange" in ln for ln in reused), final


def test_packed_cell_key_aliasing_is_harmless(spark):
    """Cells one packed-field width (2**CELL_KEY_BITS cells) apart on an
    axis share a hash key; the strict predicate must still decide. Rects
    on negative cells and on both sides of zero, rects moved one width
    out, and points at every combination of -1/0/+1 widths from each
    rect: `binned_containment_join` and `per_ray_hits` both match a
    brute-force strict-`<` scan, and many point/rect pairs really alias."""
    import math

    from etl_sh_design_spark.datagen import LAYER_Z_MM
    from etl_sh_design_spark.operators.containment import CELL_KEY_BITS, binned_containment_join
    from etl_sh_design_spark.plans.acceptance import CELL_MM, per_ray_hits

    width = 1 << CELL_KEY_BITS
    wrap = width * CELL_MM  # one packed-field width, in mm (exact)
    rects, points = [], []
    for layer in range(1, 5):
        for k in range(-3, 3):
            for j in (-2, -1, 0, 1):
                bx, by = k * CELL_MM + 20.0, j * CELL_MM + 30.0
                rects.append((len(rects), layer, bx - 5.0, bx + 5.0, by - 5.0, by + 5.0))
                if k == j:  # and one width out: cells near -2**24 in x, +2**24 in y
                    x, y = bx - wrap, by + wrap
                    rects.append((len(rects), layer, x - 5.0, x + 5.0, y - 5.0, y + 5.0))
                for ox in (-1, 0, 1):
                    for oy in (-1, 0, 1):
                        points.append((len(points), layer, bx + ox * wrap, by + oy * wrap))

    def contains(r, x, y):
        return r[2] < x < r[3] and r[4] < y < r[5]

    def cell(v):
        return math.floor(v / CELL_MM)

    def rect_cells(r):
        xs, ys = range(cell(r[2]), cell(r[3]) + 1), range(cell(r[4]), cell(r[5]) + 1)
        return [(cx, cy) for cx in xs for cy in ys]

    # point/rect pairs of one layer whose cells differ but share a key
    aliased = sum(
        1
        for _, pl, px, py in points
        for r in rects
        if r[1] == pl
        and (cell(px), cell(py)) not in rect_cells(r)
        and any(
            (cx - cell(px)) % width == 0 and (cy - cell(py)) % width == 0
            for cx, cy in rect_cells(r)
        )
    )
    assert aliased > 100

    want = sorted(
        (pid, r[0])
        for pid, pl, px, py in points
        for r in rects
        if r[1] == pl and contains(r, px, py)
    )
    pdf = spark.createDataFrame(points, "pid INT, layer INT, px DOUBLE, py DOUBLE")
    rdf = spark.createDataFrame(
        rects, "rid INT, layer INT, ax1 DOUBLE, ax2 DOUBLE, ay1 DOUBLE, ay2 DOUBLE"
    )
    binned = binned_containment_join(pdf, rdf, CELL_MM, extra_keys=["layer"])
    assert sorted(tuple(r) for r in binned.select("pid", "rid").collect()) == want
    assert len(want) > len(points) // 9

    # one ray per point, landing on it (to an ulp) in the point's layer;
    # the brute force below repeats Spark's P14 arithmetic exactly
    rays = [
        (pid, 1.0, px / LAYER_Z_MM[pl - 1], py / LAYER_Z_MM[pl - 1])
        for pid, pl, px, py in points
    ]
    want_n = sorted(
        (eid, sum(
            any(r[1] == layer and contains(r, z * t * c, z * t * s) for r in rects)
            for layer, z in enumerate(LAYER_Z_MM, 1)
        ))
        for eid, t, c, s in rays
    )
    ray_df = spark.createDataFrame(
        [(eid, 2.0, t, c, s) for eid, t, c, s in rays],
        "event_id BIGINT, eta DOUBLE, tanth DOUBLE, cphi DOUBLE, sphi DOUBLE",
    )
    got = per_ray_hits(ray_df, rdf).select("event_id", "n")
    assert sorted(tuple(r) for r in got.collect()) == want_n
    assert {n for _, n in want_n} >= {0, 4}


def test_incremental_dedup_broadcasts_key_side(spark):
    """The existing-corpus side must broadcast (key column only) —
    the incoming batch never shuffles for the anti-join."""
    from etl_sh_design_spark.registry import queries

    df = queries()["incremental_dedup"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_bigrams_partial_agg(spark):
    """Hot-key (stop-bigram) skew is absorbed map-side: partial
    HashAggregate must precede the exchange."""
    from etl_sh_design_spark.registry import queries

    plan = _plan(queries()["top_bigrams"](spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_funnel_filter_pushdown(spark):
    """The event_type filters must reach the parquet scan on both join
    sides."""
    from etl_sh_design_spark.registry import queries

    plan = _plan(queries()["funnel_interval_join"](spark, SF_SMOKE))
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_zorder_key_stays_in_codegen(spark):
    """The Morton bit-interleave must compile into whole-stage codegen
    (no python workers, no BatchEvalPython in the plan)."""
    from etl_sh_design_spark.registry import queries

    plan = _plan(queries()["zorder_layout"](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the interleave is a JVM catalyst expression over the scan output
    assert "shiftleft" in plan
    assert plan.count("HashAggregate") >= 2  # partial agg before shuffle


def test_scd2_single_exchange(spark):
    """SCD2 build: the lag-compaction and lead-expiry windows share the
    (user_id) partitioning, so the whole dimension build needs exactly
    one shuffle exchange."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["scd2_user_history"](spark, SF_SMOKE))
    assert plan.count("Exchange") == 1, plan


def test_bv_config_search_is_zero_udf_single_exchange(spark):
    """W7: the split search runs no Python, and every stage after the
    (layer, band) shuffle is keyed on a superset of it, so the search
    over a cached modules table needs exactly one exchange."""
    from etl_sh_design_spark import datagen
    from etl_sh_design_spark.operators.bv_grouping import find_bv_config, modules_from_sensors

    mods = modules_from_sensors(datagen.sensors(spark).filter(F.col("layer") == 1)).cache()
    try:
        plan = _plan(find_bv_config(mods))
    finally:
        mods.unpersist()
    for node in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node
    # the cached relation's own plan prints below the scan
    above_cache = plan.split("InMemoryTableScan")[0]
    assert above_cache.count("Exchange") == 1, above_cache


def test_layout_loop_runs_no_python_worker(spark):
    """The interactive layout loop never leaves the JVM: no Python-UDF
    or pandas node in the executed plans of the seven layout ops (every
    output of the two studies) nor of the polygon-tiling and greedy-BV
    queries. The dee_faces / tiling_real memos are cleared first, so
    the persisted sub-plans inspected (printed under their
    InMemoryRelation) are the ones built here."""
    from etl_sh_design_spark import memo, registry
    from etl_sh_design_spark.operators import partition
    from etl_sh_design_spark.plans import dee_faces, studies, tiling

    for family in ("dee_faces", "tiling_real"):
        memo.clear(family)
    qs = registry.queries()
    frames = {
        "tiling.flavor_counts": tiling.flavor_counts(spark),
        "tiling.supermodules": tiling.supermodules(spark),
        "dee_faces.face_boards": dee_faces.face_boards(spark),
        "dee_faces.face_flavor_counts": dee_faces.face_flavor_counts(spark),
        **{f"bias_voltage.{k}": df for k, df in studies.bias_voltage_study(spark).items()},
        **{f"occupancy.{k}": df for k, df in studies.occupancy_study(spark).items()},
        "partition.lookup": partition.partition_lookup(spark),
        **{
            q: qs[q](spark, SF_SMOKE)
            for q in ("tile_slots_polygon", "tile_real_boards", "bv_greedy_groups", "bv_totals")
        },
    }
    python_nodes = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
    found = {
        name: [n for n in python_nodes if n in _plan(df)] for name, df in frames.items()
    }
    assert not any(found.values()), {k: v for k, v in found.items() if v}


def test_dee_face_slots_are_one_cached_table(spark):
    """The four faces' slot table is one cached relation whose plan
    runs the one-maybe-per-row rule as a window pass: no join back to
    the flags and no cache nested inside it. The only join left is the
    grid x face-dim cross join, one per slot plan (face1, faces 2-4).
    So face_flavor_counts' executed plan scans cached data a handful
    of times, and does not print the polygon literal under a nested
    cache per consumer."""
    import re

    from etl_sh_design_spark import memo
    from etl_sh_design_spark.plans import dee_faces

    memo.clear("dee_faces")
    cached = _plan(dee_faces.all_face_slots(spark))
    assert cached.count("InMemoryRelation") == 1, cached.count("InMemoryRelation")
    joins = re.findall(r"\w*Join\w*", cached.split("InMemoryRelation", 1)[1])
    assert joins == ["BroadcastNestedLoopJoin"] * 2, joins
    counts = _plan(dee_faces.face_flavor_counts(spark))
    assert counts.count("InMemoryTableScan") <= 5, counts.count("InMemoryTableScan")


def test_q13_outer_join_keeps_on_clause_filter(spark):
    """Q13: the o_orderpriority predicate must appear as a pushed scan
    filter on the orders side (it is an ON-clause filter of a left
    join, still pushable to the non-preserved side's scan)."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["q13_custdist"](spark, SF_SMOKE))
    assert "1-URGENT" in plan
    assert "PushedFilters" in plan


def test_q22_anti_join_and_broadcast_scalar(spark):
    """Q22: the NOT EXISTS compiles to a broadcast anti join (the
    urgent-orders side is small) and the scalar average arrives via a
    broadcast, never a shuffle of the customer table for the scalar."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["q22_idle_customers"](spark, SF_SMOKE))
    assert "LeftAnti" in plan, plan


def test_regression_stats_partial_agg(spark):
    """Moment aggregates must partial-aggregate before the exchange
    (map-side combine), so the shuffle carries |groups| rows."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["regression_stats"](spark, SF_SMOKE))
    first_agg = plan.index("HashAggregate")
    first_exchange = plan.index("Exchange")
    assert first_agg > first_exchange or "partial" in plan.lower()


def test_vocab_coverage_no_window_exec(spark):
    """The cumulative sum runs as a broadcast theta-join over the
    checkpointed top-k (bounded rows) — there must be NO WindowExec in
    the plan at all (an unpartitioned window would be a global
    single-partition sort)."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["vocab_coverage"](spark, SF_SMOKE))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_top_bigrams_no_window_exec(spark):
    """Same invariant for the top-bigrams rank: broadcast theta-join
    rank over the TakeOrdered top-k, no WindowExec anywhere."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["top_bigrams"](spark, SF_SMOKE))
    assert "Window" not in plan


def test_ntile_no_global_sort(spark):
    """ntile_acctbal must not funnel all rows through one partition:
    every WindowExec in the plan must carry a partition spec (the
    distributed rank windows are partitioned by range-partition id)."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["ntile_acctbal"](spark, SF_SMOKE))
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line.lower():
            assert "partitionBy" not in line or "pid" in line
    # the giveaway of a global window is an Exchange SinglePartition
    # feeding a Window/Sort; the only SinglePartition allowed here is
    # a scalar aggregate (there is none in this query)
    assert "Exchange SinglePartition" not in plan


def test_q8_fact_never_sortmerges(spark):
    """Q8 shape: all five dimensions broadcast; the lineitem side must
    reach the final aggregate without a SortMergeJoin (one exchange:
    the groupBy)."""
    from etl_sh_design_spark.registry import queries

    plan = _plan(queries()["q8_market_share"](spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_q10_fact_fact_first_then_custkey_shuffle(spark):
    """Q10 join-order contract: nation broadcasts, and the plan
    carries no more than the two intended fact exchanges (orderkey for
    orders|><|lineitem, custkey for the customer join) plus the final
    agg/sort exchanges — customer must NOT ride the orderkey shuffle."""
    from etl_sh_design_spark.registry import queries

    plan = _plan(queries()["q10_returned_revenue"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan  # nation (and, at sf-small, AQE dims)


def test_q2_groupwise_min_broadcasts_dims(spark):
    """Q2 shape: part/supplier/nation/region sides broadcast; the only
    shuffles key on (l_partkey[, l_suppkey]) for the two aggs."""
    from etl_sh_design_spark.registry import queries

    plan = _plan(queries()["q2_min_cost_supplier"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q21_no_self_join_explosion(spark):
    """Q21 shape: the double-correlated EXISTS must be one per-order
    aggregate joined back — no nested-loop or cartesian anywhere."""
    from etl_sh_design_spark.registry import queries

    plan = _plan(queries()["q21_waiting_suppliers"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q11_threshold_is_broadcast_scalar(spark):
    """Q11 shape: the global total joins back as a broadcast (1-row),
    never a shuffle."""
    from etl_sh_design_spark.registry import queries

    plan = _plan(queries()["q11_important_parts"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_token_frequency_join_keys_on_token(spark):
    """The unigram join must be token-keyed (hash/SMJ on tok) — never
    a nested loop; the vocab side need not broadcast at scale."""
    from etl_sh_design_spark.registry import queries

    plan = _plan(queries()["token_frequency_scores"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_centroids_broadcast_pairs_stay_hash_keyed(spark):
    """SemDeDup scale shape, asserted per stage (the Lloyd rounds sit
    behind localCheckpoints, so the final plan only shows the pairwise
    stage): (a) centroid assignment broadcasts the k-row centroid side
    — the vector side carries no Exchange before the join; (b) the
    quadratic cosine stage is an equi-join keyed on the cell id —
    never an unkeyed product over all pairs."""
    from pyspark.sql import functions as F

    from etl_sh_design_spark.operators.kmeans import _as_double, _assign

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    vecs = emb.select(F.col("vec_id"), _as_double("embedding").alias("v"))
    cents = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cluster"), F.col("v").alias("c")
    )
    aplan = _plan(_assign(vecs, cents))
    assert "BroadcastNestedLoopJoin" in aplan  # 8-row side broadcast
    join_part = aplan.split("BroadcastNestedLoopJoin")[1]
    # the big (vector) side streams straight from the scan: the only
    # Exchange below the join is the broadcast of the centroid side
    assert "Exchange hashpartitioning" not in join_part.split("Scan parquet")[0]

    from etl_sh_design_spark import registry

    df = registry.queries()["semantic_dedup"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin [cluster" in plan or "ShuffledHashJoin [cluster" in plan


def test_quantile_sketch_partial_agg_and_bounded_window(spark):
    """Two-level sketch: the shard histogram must partial-aggregate
    before its shuffle (HashAggregate below the Exchange), and the
    quantile-extraction window must be partitioned by event_type —
    no global single-partition window."""
    from etl_sh_design_spark import registry

    df = registry.queries()["quantile_sketch_events"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.index("HashAggregate") < plan.index("Exchange")
    assert "No Partition Defined for Window" not in plan


def test_budget_selection_no_global_window(spark):
    """token_budget_selection's cumulative sum must never funnel
    through one partition: every WindowExec is partitioned by the
    range-partition id, and no Exchange SinglePartition feeds a
    Window/Sort (the only driver-side step is the P-row subtotal
    collect)."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["token_budget_selection"](spark, SF_SMOKE))
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "pid" in line
    assert "Exchange SinglePartition" not in plan


def test_snapshot_diff_is_single_equi_join(spark):
    """corpus_snapshot_diff must diff the version manifests with a
    plain doc_id-keyed equi-join — no nested-loop/cartesian anywhere
    (a cross product over two corpus versions would be the classic
    diff-gone-wrong plan)."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["corpus_snapshot_diff"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" in plan and (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    )


def test_boilerplate_cluster_table_joins_hash_keyed(spark):
    """The prefix-cluster-size table joins back to the docs on the
    prefix key — hash-keyed (broadcast or shuffled), never a nested
    loop; the cluster table is aggregated (distinct-prefix-sized)
    before the join."""
    from etl_sh_design_spark import registry

    plan = _plan(
        registry.queries()["boilerplate_prefix_clusters"](spark, SF_SMOKE)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_mad_outliers_medians_broadcast(spark):
    """Per-type median/MAD tables are group-count-sized and must
    broadcast back onto the events side — the events scan should never
    shuffle for the join legs."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["mad_outliers_events"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2


def test_srp_signature_is_map_only(spark):
    """SRP signatures are pure per-row array math: the plane matrix is
    a driver-side literal, so the plan has NO exchange and NO explode
    (the previous posexplode->groupBy x2 formulation shuffled
    N*dim*n_planes rows twice)."""
    from etl_sh_design_spark.operators.similarity import srp_signature

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    plan = _plan(srp_signature(e).select("vec_id", "bucket"))
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_srp_python_plane_matches_sql_md5(spark):
    """The driver-side plane literals must be byte-identical to the
    md5 expression the oracle SQL (and the old exploded path) uses."""
    from etl_sh_design_spark.operators.dedup import md5_int64
    from etl_sh_design_spark.operators.similarity import _srp_sign

    probes = [(j, d) for j in range(4) for d in (0, 1, 7, 63)]
    row = spark.range(1).select(
        *[
            ((md5_int64(F.lit(f"{j}:{d}")) % 2) * 2 - 1).alias(f"s_{j}_{d}")
            for j, d in probes
        ]
    ).first()
    for j, d in probes:
        assert row[f"s_{j}_{d}"] == _srp_sign(j, d), (j, d)


def test_bloom_decon_probes_before_candidate_distinct(spark):
    """The corpus gram stream must hit the (broadcast) bloom word
    joins BEFORE the only corpus-keyed exchange — i.e. the candidate
    distinct consumes the probe output, so only bloom survivors are
    ever shuffled. In the top-down plan print, the doc_id+gram
    hash-partitioning therefore appears ABOVE the first broadcast
    probe join."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["bloom_decontamination"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3  # word0, word1, confirm-mark
    i_distinct = plan.find("hashpartitioning(doc_id")
    i_probe = plan.find("BroadcastHashJoin [word0")
    assert i_distinct != -1 and i_probe != -1
    assert i_distinct < i_probe


def test_knn_label_corpus_never_sortmerges(spark):
    """kNN label eval: the probe side broadcasts into the corpus scan
    (inside cosine_topk); the vote/label joins are candidate-sized.
    The corpus must never reach a sort-merge join."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["knn_label_accuracy"](spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan


def test_class_separation_cohesion_join_broadcasts(spark):
    """The assembled centroid table (L rows) must broadcast onto the
    vector side for the cohesion pass; rows never shuffle for it."""
    from etl_sh_design_spark import registry

    plan = _plan(registry.queries()["class_separation"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
