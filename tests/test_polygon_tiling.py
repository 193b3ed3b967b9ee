"""J3/U1 fidelity closure: the tiling pipeline against the
reference's REAL 'updated'-layout blocked geometry
(dee_geometry.py:60-132), exact polygons vs their bounding-box
over-approximation.

The quantified approximation (golden below): of the 594 slots, the
bbox path blocks 26 that the exact polygon path keeps — the corners
of the nose circle's bounding square (the square [-302,302]^2 covers
annulus area the circle doesn't, rows 5-16 / ix 3-7) and the inner
corners of two outer-attachment caps at the disk rim ((2,22) and
(19,22), where the semicircular cap curves away from its box). No
slot is ever polygon-blocked but bbox-free — the bbox is a strict
over-approximation, which is what makes it a safe SQL oracle twin.
"""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from etl_sh_design_spark.plans import tiling

# the STATE-visible slice of the engine's pinned overlap gap: two of
# the 28 raw-overlap-gap slots ((4,25)/(17,25)) are radially blocked
# either way (rmax >= R_OUTER), so 26 slots differ in state
BBOX_ONLY_BLOCKED = tiling.POLY_FREE_BBOX_BLOCKED - {(4, 25), (17, 25)}


@pytest.fixture(scope="module")
def slot_states(spark):
    poly = {
        (r["iy"], r["ix"]): (r["state"], r["available"])
        for r in tiling.slots_real(spark, "polygon").collect()
    }
    bbox = {
        (r["iy"], r["ix"]): (r["state"], r["available"])
        for r in tiling.slots_real(spark, "bbox").collect()
    }
    return poly, bbox


def test_bbox_is_strict_over_approximation(slot_states):
    """Every polygon-blocked slot is bbox-blocked; never the reverse."""
    poly, bbox = slot_states
    assert len(poly) == len(bbox) == tiling.N_ROWS * tiling.N_COLS
    violations = [
        k for k in poly if poly[k][0] == "no" and bbox[k][0] != "no"
    ]
    assert violations == []


def test_quantified_approximation_is_pinned(slot_states):
    """The bbox stand-in over-blocks EXACTLY the 26 known corner-cut
    slots (nose-circle square corners + two outer-attachment caps)."""
    poly, bbox = slot_states
    diff = {k for k in poly if poly[k] != bbox[k]}
    assert diff == BBOX_ONLY_BLOCKED
    for k in diff:
        assert bbox[k][0] == "no" and poly[k][0] in ("yes", "maybe"), (k, poly[k])


def test_polygon_diffs_are_geometrically_explained(slot_states):
    """Each over-blocked slot really is outside every exact polygon:
    re-check with a dense point grid against the nose circle and the
    attachment shapes (driver-side math, independent of the UDF)."""
    poly, _ = slot_states
    polys = tiling.reference_blocked_polygons()

    def point_in_poly(x, y, verts):
        inside = False
        n = len(verts)
        for i in range(n):
            x0, y0 = verts[i]
            x1, y1 = verts[(i + 1) % n]
            if (y0 > y) != (y1 > y):
                xi = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
                if x < xi:
                    inside = not inside
        return inside

    for iy, ix in BBOX_ONLY_BLOCKED:
        x1 = ix * tiling.SLOT_W
        y1 = (iy - tiling.N_ROWS / 2.0) * tiling.SLOT_H
        # sample the slot interior; no sample point may fall inside any
        # exact polygon (the slot is genuinely free)
        for fx in (0.05, 0.5, 0.95):
            for fy in (0.05, 0.5, 0.95):
                px = x1 + fx * tiling.SLOT_W
                py = y1 + fy * tiling.SLOT_H
                for name, verts in polys.items():
                    assert not point_in_poly(px, py, verts), (iy, ix, name)


def test_gap_set_matches_independent_sequential_overlap():
    """The 26-slot approximation gap (the constant that makes the
    tile_slots_polygon oracle exact) re-derived from scratch with the
    sequential golden's OWN scalar rect-overlap implementation
    (tools/ref_tiling_golden — different code path from the Column kernel)
    against the same stand-in grid + real polygons. Covers all 594
    slots, both directions."""
    from tools.ref_tiling_golden import rect_overlaps_polygon

    polys = tiling.reference_blocked_polygons()
    bboxes = {
        name: (
            min(x for x, _ in v), max(x for x, _ in v),
            min(y for _, y in v), max(y for _, y in v),
        )
        for name, v in polys.items()
    }
    gap = set()
    for iy in range(tiling.N_ROWS):
        for ix in range(tiling.N_COLS):
            x1 = ix * tiling.SLOT_W
            x2 = x1 + tiling.SLOT_W
            y1 = (iy - tiling.N_ROWS / 2.0) * tiling.SLOT_H
            y2 = y1 + tiling.SLOT_H
            poly_hit = any(
                rect_overlaps_polygon(x1, y1, x2, y2, v) for v in polys.values()
            )
            bbox_hit = any(
                x1 < bx2 and bx1 < x2 and y1 < by2 and by1 < y2
                for bx1, bx2, by1, by2 in bboxes.values()
            )
            # strict over-approximation: polygon-hit implies bbox-hit
            assert not (poly_hit and not bbox_hit), (iy, ix)
            if bbox_hit and not poly_hit:
                gap.add((iy, ix))
    assert gap == tiling.POLY_FREE_BBOX_BLOCKED


def test_column_kernel_matches_scalar_golden(spark):
    """The Column kernel (operators/polygon.py) against the golden's
    scalar predicates, rect by rect and point by point, on seeded
    quarter-grid rects (exact arithmetic, so touching is frequent)
    plus the pinned edge cases: horizontal and vertical polygon edges
    (p == 0 slabs), a rect touching a bbox side, a rect touching a
    vertex at one point (t0 == t1), a rect inside a polygon, a polygon
    inside a rect, and a rect in a concave notch whose edges run
    parallel to it."""
    import random

    from etl_sh_design_spark.operators.polygon import point_in_polygon, rect_overlap_count
    from tools.ref_tiling_golden import point_in_polygon as golden_point
    from tools.ref_tiling_golden import rect_overlaps_polygon as golden_rect

    polys = [
        [(0.0, 0.0), (10.0, 0.0), (10.0, 6.0), (0.0, 6.0)],  # axis-aligned box
        [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)],  # triangle
        [(0.0, 0.0), (10.0, 0.0), (10.0, 4.0), (4.0, 4.0), (4.0, 10.0), (0.0, 10.0)],  # L
        [(5 + x / 60, 5 + y / 60) for x, y in tiling.circle_polygon(300.0)],
    ]
    pinned = [
        (10.0, 2.0, 12.0, 4.0),  # touches the box's and L's right bbox side
        (10.0, 0.0, 12.0, 2.0),  # meets the triangle at its vertex (10, 0) only
        (2.0, 2.0, 3.0, 3.0),  # inside the box, the triangle and the L
        (-5.0, -5.0, 20.0, 20.0),  # every polygon inside it
        (6.0, 6.0, 8.0, 8.0),  # in the L's notch, inside its bbox
        (4.0, 4.0, 6.0, 6.0),  # the L's reflex vertex on a corner
    ]
    rng = random.Random(20261018)

    def q(lo, hi):
        return rng.randint(int(lo * 4), int(hi * 4)) / 4

    rects = list(pinned)
    for _ in range(400):
        x1, y1 = q(-4, 14), q(-4, 14)
        rects.append((x1, y1, x1 + q(0, 6), y1 + q(0, 6)))
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rects)],
        "rid INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE",
    )
    got = df.select(
        "rid",
        rect_overlap_count("x1", "y1", "x2", "y2", polys).alias("n"),
        *[(rect_overlap_count("x1", "y1", "x2", "y2", [v]) > 0).alias(f"r{k}") for k, v in enumerate(polys)],
        *[point_in_polygon("x1", "y1", v).alias(f"p{k}") for k, v in enumerate(polys)],
    ).collect()
    assert len(got) == len(rects)
    for row in got:
        x1, y1, x2, y2 = rects[row["rid"]]
        hits = [golden_rect(x1, y1, x2, y2, v) for v in polys]
        assert row["n"] == sum(hits), rects[row["rid"]]
        for k, v in enumerate(polys):
            assert row[f"r{k}"] == hits[k], (k, rects[row["rid"]])
            assert row[f"p{k}"] == golden_point(x1, y1, v), (k, rects[row["rid"]])
    # the pinned cases carry their expected verdicts, not just parity
    by_rid = {r["rid"]: r for r in got}
    assert [by_rid[i]["r0"] for i in range(4)] == [True, True, True, True]
    assert [by_rid[i]["r1"] for i in range(4)] == [False, True, True, True]
    assert [by_rid[i]["r2"] for i in range(6)] == [True, True, True, True, False, True]


def test_polygon_oracle_states_match_spark(spark):
    """The corrected-bbox oracle SQL (real_polygon_slots_sql) agrees
    row-for-row with the Spark polygon path — the same comparison the
    driver runs, replayed locally through DuckDB."""
    import duckdb

    sql = (
        "WITH "
        + tiling.real_polygon_slots_sql()
        + " SELECT iy, ix, state, coalesce(available, FALSE) AS available"
        " FROM slots ORDER BY iy, ix"
    )
    oracle = {
        (iy, ix): (state, bool(av))
        for iy, ix, state, av in duckdb.sql(sql).fetchall()
    }
    got = {
        (r["iy"], r["ix"]): (r["state"], bool(r["available"]))
        for r in tiling.slots_real(spark, "polygon")
        .select("iy", "ix", "state", F.coalesce("available", F.lit(False)).alias("available"))
        .collect()
    }
    assert got == oracle


def test_inner_attachment_vertex_math():
    """_make_inner_attachment at angle=90 (the +x horizontal wedge of
    the 'updated' layout) lands at hand-computed coordinates:
    width 110, height 93, inner 302 -> x in [302, 395], y in
    [-55, 55]."""
    v = tiling._make_inner_attachment(
        90, height=395.0 - 302.0, width=110.0, taper=0.0, inner=302.0
    )
    xs = sorted(round(x, 9) for x, _ in v)
    ys = sorted(round(y, 9) for _, y in v)
    assert xs == [302.0, 302.0, 395.0, 395.0]
    assert ys == [-55.0, -55.0, 55.0, 55.0]


def test_outer_attachment_cap_extends_inward():
    """The outer attachment at angle=0 hangs from the rim toward the
    center: top edge at r=1185, rect bottom at 1077.5, cap tip at
    1077.5 - 34 = 1043.5."""
    v = tiling._make_outer_attachment(0)
    ys = [y for _, y in v]
    assert math.isclose(max(ys), 1185.0)
    assert math.isclose(min(ys), 1185.0 - 107.5 - 34.0)


def test_runs_downstream_works_on_polygon_slots(spark):
    """The exact-geometry slot table feeds the same W5/W6 run logic."""
    runs = tiling.runs_two_pass_from(tiling.slots_real(spark, "polygon")).collect()
    assert len(runs) > 0
    assert all(r["n_slots"] >= 1 for r in runs)


def test_real_bv_study_matches_reference_chain_search(spark):
    """Reference-loop golden: real_bv_study's leads/channels for the
    two production 5 fC configs equal an independent driver-side
    reimplementation of find_BV_config's chain search (ETL.py:423-493)
    over the same real modules (computed once, pinned here)."""
    import os

    import pytest as _pytest

    from etl_sh_design_spark.sources.io import reference_dir

    if not os.path.exists(os.path.join(reference_dir(), "layouts/database_new.yaml")):
        _pytest.skip("reference checkout not available")
    from etl_sh_design_spark.registry import queries

    got = {r["config"]: r for r in queries()["real_bv_study"](spark, "x").collect()}
    assert got["FBK_w13_5fC"]["n_sms"] == 78
    assert got["FBK_w13_5fC"]["bv_leads"] == 258
    assert got["FBK_w13_5fC"]["bv_channels"] == 180
    assert got["HPK_split4_5fC"]["bv_leads"] == 336
    assert got["HPK_split4_5fC"]["bv_channels"] == 258
    # charge ordering sanity: higher charge -> weaker curve constraint
    # -> never more channels
    for fam in ("FBK_w13", "HPK_split4"):
        chans = [
            got[f"{fam}_{q}"]["bv_channels"] for q in ("2p5fC", "5fC", "10fC", "15fC")
        ]
        assert chans == sorted(chans, reverse=True), chans


def test_layout_variants_change_only_attachment_slots(spark):
    """--dee_layout variant support (dee_geometry.py:209-260): the
    three layouts share nose/feedthrough blocking, so 'plain' (no
    attachments) must block a SUBSET of both attachment layouts, and
    the measured variant state counts are pinned."""
    from collections import Counter

    states = {}
    for lay in ("updated", "baseline", "plain"):
        states[lay] = {
            (r["iy"], r["ix"]): r["state"]
            for r in tiling.slots_real(spark, "polygon", layout=lay).collect()
        }
    assert Counter(states["updated"].values()) == {"yes": 448, "no": 138, "maybe": 8}
    assert Counter(states["baseline"].values()) == {"yes": 446, "no": 142, "maybe": 6}
    assert Counter(states["plain"].values()) == {"yes": 474, "no": 112, "maybe": 8}
    # plain blocks a subset: any slot 'no' under plain is 'no' under both
    for k, st in states["plain"].items():
        if st == "no":
            assert states["updated"][k] == "no" and states["baseline"][k] == "no", k


def test_baseline_inner_attachment_taper_math():
    """The tapered baseline attachment (taper 5.4 deg) narrows toward
    its outer edge: at angle 0 the top edge (y = 336+84 = 420) spans
    width - 2*84*tan(5.4deg) while the bottom edge spans the full
    88.5."""
    v = tiling._make_inner_attachment(0, height=84.0, width=88.5, taper=5.4, inner=336.0)
    ys = [round(y, 6) for _, y in v]
    assert set(ys) == {336.0, 420.0}
    top = sorted(x for x, y in v if round(y, 6) == 420.0)
    bot = sorted(x for x, y in v if round(y, 6) == 336.0)
    assert math.isclose(bot[1] - bot[0], 88.5)
    assert math.isclose(top[1] - top[0], 88.5 - 2 * 84.0 * math.tan(math.radians(5.4)))


def test_bv_min_segments_property_random_modules(spark):
    """Property check of the DataFrame mask-enumeration against a
    brute-force python reference on seeded random supermodules:
    random radii + random SM sizes (1..7), endpoint-validity
    semantics, min segments must agree exactly. The same check then
    runs the W7 rule (find_bv_config) on random module rows: budget,
    whole-segment validity, (n_segs, balance, mask) tie-break and the
    all-singles fallback, with chosen segments compared row by row."""
    import math
    import random

    rng = random.Random(20260814)
    rows = []
    for sm in range(12):
        n = rng.randint(1, 7)
        for p in range(n):
            r0 = rng.uniform(300, 1100)
            rows.append((0, sm, n, p, r0, r0 + rng.uniform(5, 120)))
    cfgs = [("c1", 435.93, -2251.2), ("c2", 526.14, -2792.0)]

    def brute(mods, a, b):
        n = len(mods)
        best = n
        for mask in range(1 << (n - 1)) if n > 1 else [0]:
            segs, start = [], 0
            for i in range(n - 1):
                if mask & (1 << i):
                    segs.append((start, i))
                    start = i + 1
            segs.append((start, n - 1))
            okall = True
            for s, e in segs:
                if s == e:
                    continue
                mi = min(mods[s][0], mods[e][0])
                ma = max(mods[s][1], mods[e][1])
                if not mi > a * math.log(ma) + b:
                    okall = False
                    break
            if okall:
                best = min(best, len(segs))
        return best

    from etl_sh_design_spark.registry_layout import bv_min_segments

    smm = spark.createDataFrame(
        rows, "row_ord INT, sm_idx INT, n_mod INT, p INT, r_min DOUBLE, r_max DOUBLE"
    )
    cfg = spark.createDataFrame(cfgs, "config STRING, a DOUBLE, b DOUBLE")
    got = {
        (r["config"], r["sm_idx"]): r["n_segs"]
        for r in bv_min_segments(smm, cfg).collect()
    }
    by_sm = {}
    for _, sm, n, p, rmin, rmax in rows:
        by_sm.setdefault(sm, []).append((rmin, rmax))
    for cname, a, b in cfgs:
        for sm, mods in by_sm.items():
            assert got[(cname, sm)] == brute(mods, a, b), (cname, sm)

    from etl_sh_design_spark import datagen
    from etl_sh_design_spark.operators.bv_grouping import (
        BUDGET_MICRO,
        CURVES,
        SM_SIZE,
        find_bv_config,
    )

    def splits(n):
        # bit i of the mask cuts between positions i and i+1
        for mask in range(1 << (n - 1)):
            cuts = [i + 1 for i in range(n - 1) if mask & (1 << i)]
            bounds = [0, *cuts, n]
            yield mask, list(zip(bounds, bounds[1:]))

    def brute_w7(mods):
        """mods: (module_id, r_min, r_max, cur_micro, vendor) of one SM."""
        mods = sorted(mods, key=lambda m: (-m[2], m[0]))
        ca, cb = CURVES[mods[0][4]]
        best = None
        for mask, segs in splits(len(mods)):
            parts = [mods[s:e] for s, e in segs]
            sums = [sum(m[3] for m in part) for part in parts]
            if all(
                sm <= BUDGET_MICRO
                and min(m[1] for m in part) > ca * math.log(max(m[2] for m in part)) + cb
                for sm, part in zip(sums, parts)
            ):
                key = (len(parts), max(sums) - min(sums), mask)
                if best is None or key < best[0]:
                    best = (key, parts)
        parts = best[1] if best else [[m] for m in mods]
        return best is not None, [
            (k, len(part), sum(m[3] for m in part) / 1e6,
             min(m[1] for m in part), max(m[2] for m in part))
            for k, part in enumerate(parts)
        ]

    # SMs are chunks of SM_SIZE consecutive k; radii cluster per SM so
    # multi-module segments can clear the curve, and coarse currents
    # make balance ties (mask tie-break) common. No split is valid in
    # band 0 (6 mA modules bust the budget alone) nor in band 1's first
    # SM (module k=0 sits below the breakdown curve on its own).
    mod_rows = []
    for band in range(8):
        base = {}
        for k in range(rng.randint(1, 17)):
            r0 = base.setdefault(k // SM_SIZE, rng.uniform(400, 1100)) + rng.uniform(0, 40)
            r1 = r0 + rng.uniform(5, 40)
            if band == 1 and k == 0:
                r0, r1 = 400.0, 1100.0
            cur = 6.0 if band == 0 else rng.choice([0.5, 1.0, 1.5, 2.0, 2.5])
            mod_rows.append(
                (1, band + datagen.NY * k, float(k), r0, r1, cur, rng.choice(["FBK", "HPK"]))
            )
    modules = spark.createDataFrame(
        mod_rows,
        "layer INT, module_id BIGINT, x DOUBLE, r_min DOUBLE, r_max DOUBLE, "
        "current DOUBLE, vendor STRING",
    )
    want, n_valid = {}, 0
    for _, mid, x, rmin, rmax, cur, vendor in mod_rows:
        sm = (mid % datagen.NY, int(x) // SM_SIZE)
        want.setdefault(sm, []).append((mid, rmin, rmax, math.floor(cur * 1e6 + 0.5), vendor))
    for sm, mods in want.items():
        valid, want[sm] = brute_w7(mods)
        n_valid += valid
    assert 0 < n_valid < len(want)  # both the search and the fallback ran
    got_w7 = {}
    for r in find_bv_config(modules).collect():
        got_w7.setdefault((r["band"], r["sm_ordinal"]), []).append(
            (r["seg_ordinal"], r["n_modules"], r["sum_current"], r["r_min"], r["r_max"])
        )
    assert {sm: sorted(v) for sm, v in got_w7.items()} == want


def test_split_search_rejects_oversized_supermodule(spark):
    """An SM with more than SM_SIZE positions would need more split
    masks than the search enumerates; it fails inside the job instead
    of reporting a minimum over a truncated mask set."""
    from etl_sh_design_spark.registry_layout import bv_min_segments

    smm = spark.createDataFrame(
        [(0, 0, 8, p, 600.0 + p, 610.0 + p) for p in range(8)],
        "row_ord INT, sm_idx INT, n_mod INT, p INT, r_min DOUBLE, r_max DOUBLE",
    )
    cfg = spark.createDataFrame([("c1", 435.93, -2251.2)], "config STRING, a DOUBLE, b DOUBLE")
    out = bv_min_segments(smm, cfg)  # construction stays lazy
    with pytest.raises(Exception, match="SM_SIZE"):
        out.collect()


def test_modify_partitions_toggle_changes_bv_channels(spark):
    """The reference's modify_partitions toggle (forced short RBs at
    the center, occupancy.py:127) reverses each row's flavor slices;
    pinned effect on the real layout: FBK 5 fC channels 180 -> 176
    (same 78 SMs)."""
    import os

    import pytest as _pytest

    from etl_sh_design_spark.sources.io import reference_dir

    if not os.path.exists(os.path.join(reference_dir(), "layouts/database_new.yaml")):
        _pytest.skip("reference checkout not available")
    from pyspark.sql import functions as F

    from etl_sh_design_spark import registry_layout

    cfg = spark.createDataFrame(
        [("FBK_w13_5fC", 435.93, -2251.2)], "config STRING, a DOUBLE, b DOUBLE"
    )
    out = {}
    for mp in (False, True):
        smm = registry_layout.real_sm_modules(spark, modify_partitions=mp)
        r = (
            registry_layout.bv_min_segments(smm, cfg)
            .agg(F.sum("n_segs").alias("ch"), F.count(F.lit(1)).alias("sms"))
            .first()
        )
        out[mp] = (r["ch"], r["sms"])
    assert out[False] == (180, 78)
    assert out[True] == (176, 78)
