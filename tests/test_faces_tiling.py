"""Faithful per-face real tiling: golden pins, machine equivalence,
Spark==golden cross-checks, board arithmetic, multi-variant plan shape.

The evidence chain for the tile_real_* oracles (registry_layout.py):

1. COMMITTED reference outputs pin the shared algorithm (grid, corner
   conditions, runs, partition, counting): five numbers from
   example.ipynb / geometric_acceptance.ipynb reproduce exactly under
   the no-maybe machine those notebooks ran (test_committed_pins).
2. Today's maybe machine (ETL.py:601-629) is re-derived sequentially in
   the golden. The closed form it reduces to, the Python
   `chain_rule_states`, is proven equivalent by exhaustive enumeration
   (TestChainRuleEquivalence); the Spark window form of the same rule
   is checked against the sequential machine by
   tests/test_properties.py::test_slot_states_window_matches_sequential_machine.
3. The Spark pipeline matches the golden slot-for-slot on all four
   real faces, and its totals match the pinned oracle constants
   (test_spark_matches_golden*, test_pinned_constants_*).
"""

from __future__ import annotations

import itertools

import duckdb
import pytest
from pyspark.sql import functions as F

import tools.ref_tiling_golden as G
from etl_sh_design_spark.plans import dee_faces, tiling
from etl_sh_design_spark.registry_layout import REAL_TILING_PINNED

# ---------------------------------------------------------------------
# 0. blocked geometry: the engine's shape builders vs the golden's copy
# ---------------------------------------------------------------------
_RIM_BBOXES = {
    "nose": (-302.0, 302.0, -302.0, 302.0),
    "feedthrough": (1120.0, 1185.0, -387.07234465923807, 387.07234465923807),
}
_UPDATED_INNER_BBOXES = {
    "inner_att_0": (-85.0, 85.0, 302.0, 398.0),
    "inner_att_180": (-84.99999999999997, 85.00000000000004, -398.0, -302.0),
    "inner_att_90": (302.0, 395.0, -54.999999999999986, 55.00000000000002),
    "inner_att_270": (-395.0, -302.0, -55.00000000000007, 54.99999999999994),
}
_BASELINE_INNER_BBOXES = {
    "inner_att_30": (129.67837588253857, 241.44508985152535, 268.8595356715714, 381.8855006799344),
    "inner_att_90": (336.0, 420.0, -44.24999999999998, 44.25000000000002),
    "inner_att_150": (129.67837588253857, 241.44508985152535, -381.8855006799344, -268.8595356715714),
    "inner_att_-30": (-241.44508985152535, -129.67837588253857, 268.8595356715714, 381.8855006799344),
    "inner_att_-90": (-420.0, -336.0, -44.24999999999998, 44.25000000000002),
    "inner_att_-150": (-241.44508985152535, -129.67837588253857, -381.8855006799344, -268.8595356715714),
}
_OUTER_BBOXES = {
    "outer_att_2_5": (13.032250352366376, 85.65661356170632, 1042.5068192206686, 1185.355201744923),
    "outer_att_68_0": (965.0418979115316, 1111.449491837784, 369.6398990214633, 475.4330642531265),
    "outer_att_112_0": (965.0418979115316, 1111.449491837784, -475.4330642531266, -369.6398990214634),
    "outer_att_177_5": (13.032250352366454, 85.65661356170641, -1185.355201744923, -1042.5068192206686),
    "outer_att_m2_5": (-85.65661356170632, -13.032250352366376, 1042.5068192206686, 1185.355201744923),
    "outer_att_m68_0": (-1111.449491837784, -965.0418979115316, 369.63989902146335, 475.4330642531265),
    "outer_att_m112_0": (-1111.449491837784, -965.0418979115316, -475.4330642531266, -369.6398990214634),
    "outer_att_m177_5": (-85.65661356170641, -13.032250352366454, -1185.355201744923, -1042.5068192206686),
}


def test_blocked_geometry_matches_golden_and_is_pinned():
    """The per-face polygon sets equal the golden's own geometry copy
    vertex for vertex; the stand-in layouts keep their exact bounding
    boxes (the tile_slots_real_bbox oracle's VALUES rows, in order) and
    their vertex counts (nose 64-gon, quads, capped outer rects whose
    cap is the lower 32 segments of a 64-gon)."""
    for first in (True, False):
        got = dee_faces.updated_layout_polygons(first)
        want = G.updated_layout_polygons(first)
        assert list(got) == list(want)
        for name in want:
            assert got[name] == want[name], (first, name)

    inner = {"updated": _UPDATED_INNER_BBOXES, "baseline": _BASELINE_INNER_BBOXES, "plain": {}}
    for layout, inner_bb in inner.items():
        polys = tiling.reference_blocked_polygons(layout=layout)
        want = {**_RIM_BBOXES, **inner_bb, **({} if layout == "plain" else _OUTER_BBOXES)}
        assert tiling.polygon_bboxes(polys) == [(k, *v) for k, v in want.items()], layout
        n_verts = {"nose": 64, "feedthrough": 4, "inner_att": 4, "outer_att": 35}
        for name, verts in polys.items():
            assert len(verts) == next(n for k, n in n_verts.items() if name.startswith(k)), name


# ---------------------------------------------------------------------
# 1. committed-output pins (reference algorithm parity, no geometry)
# ---------------------------------------------------------------------
class TestCommittedPins:
    def test_example_ipynb_7704_modules(self):
        """example.ipynb cell 14 committed output: 44.2x56.5 module,
        Dee(315,1185), edge_x=6, 4 faces -> 7704 modules for ETL."""
        cfg = G.TilingConfig(mod_h=44.2)
        total = sum(
            G.tile(cfg, o, c, with_maybe=False)["n_modules"]
            for o, c in G.FACE_CONFIGS.values()
        )
        assert total * 4 == 7704

    def test_example_ipynb_descoped_385(self):
        """example.ipynb cell 25: Dee(315,1080) above+centerPB -> 385."""
        cfg = G.TilingConfig(mod_h=44.2, r_outer=1080.0)
        assert G.tile(cfg, "above", "pb", with_maybe=False)["n_modules"] == 385

    def test_geometric_acceptance_3936(self):
        """geometric_acceptance.ipynb cell 8: 43.1 module, x2 = 3936."""
        total = sum(
            G.tile(G.TilingConfig(), o, c, with_maybe=False)["n_modules"]
            for o, c in G.FACE_CONFIGS.values()
        )
        assert total * 2 == 3936

    def test_geometric_acceptance_3852(self):
        """geometric_acceptance.ipynb cell 19: 44.2 module, x2 = 3852."""
        total = sum(
            G.tile(G.TilingConfig(mod_h=44.2), o, c, with_maybe=False)["n_modules"]
            for o, c in G.FACE_CONFIGS.values()
        )
        assert total * 2 == 3852

    def test_geometric_acceptance_3824_alt_flavors(self):
        """geometric_acceptance.ipynb cell 30: 22.35 module with
        flavors [6,11,14] -> 3824 across the 4 faces (exercises
        best_partition on a non-default flavor set)."""
        cfg = G.TilingConfig(mod_h=42.5 / 2 + 0.5 + 0.6, flavors=(14, 11, 6))
        total = sum(
            G.tile(cfg, o, c, with_maybe=False)["n_modules"]
            for o, c in G.FACE_CONFIGS.values()
        )
        assert total == 3824

    def test_flavor_literal_divergence_pinned(self, spark):
        """THE documented deviation from the reference, pinned in the
        configuration where it is observable (ADVICE r7 / VERDICT r8
        item 2): the reference's two-pass check hardcodes
        `partition[0] != 7` (ETL.py populate); the engine generalizes
        to `!= max(flavors)` (plans/tiling.py runs_two_pass_from).
        Identical for the shipped {7,6,3}; for flavors=(14,11,6) with
        with_maybe=True the literal-7 form demotes EVERY maybe-opening
        run (7 is not a flavor, so the check always fires) while the
        generalized form keeps runs whose partition opens with 14.

        Pins all three behaviors so a silent change in any fails:
        - golden generalized keeps 2 extra modules/face vs literal-7,
        - golden literal-7 degenerates to the no-maybe machine here,
        - the SPARK plan agrees with the GENERALIZED golden (the
          engine's chosen semantics), not the literal-7 one.
        """
        cfg = G.TilingConfig(mod_h=42.5 / 2 + 0.5 + 0.6, flavors=(14, 11, 6))
        gen = G.tile(cfg, "above", "module", with_maybe=True)["n_modules"]
        lit = G.tile(
            cfg, "above", "module", with_maybe=True, literal_seven=True
        )["n_modules"]
        no_maybe = G.tile(cfg, "above", "module", with_maybe=False)["n_modules"]
        assert gen == 959
        assert lit == 957
        assert lit == no_maybe  # literal-7 reduces to pass-2 everywhere
        # edge_x=6.0 explicitly: the golden's TilingConfig default is
        # ETL.py populate's edge_x=6, the engine's EDGE_X=8 default is
        # dee_geometry.py:379's — both real reference configurations
        row = dee_faces.config_module_totals(
            spark,
            "alt_flavors_maybe",
            faces=[("above", "module")],
            flavors=(14, 11, 6),
            with_maybe=True,
            r_inner=315.0,
            mod_h=42.5 / 2 + 0.5 + 0.6,
            edge_x=6.0,
        ).collect()[0]
        assert row["n_modules"] == gen


# ---------------------------------------------------------------------
# 2. sequential machine == declarative chain rule
# ---------------------------------------------------------------------
class TestChainRuleEquivalence:
    def test_exhaustive_short_rows(self):
        """Every (sm, mod) flag sequence up to length 8: the closed
        form the Spark windows implement equals the reference's
        sequential machine. 3 states per slot (sm / mod-only / neither;
        sm+mod collapses to sm because of the elif) -> 3^8 cases."""
        for n in range(1, 9):
            for combo in itertools.product([(True, False), (False, True), (False, False)], repeat=n):
                flags = list(combo)
                assert G.availability_states(flags) == G.chain_rule_states(flags), flags

    def test_slide_moves_maybe_outward(self):
        flags = [(False, True)] * 3 + [(True, False)] * 2
        assert G.availability_states(flags) == ["no", "no", "maybe", "yes", "yes"]

    def test_single_mod_after_yes_dies(self):
        flags = [(True, False), (False, True), (False, False)]
        assert G.availability_states(flags) == ["yes", "no", "no"]

    def test_two_mod_after_yes_get_trailing_maybe(self):
        flags = [(True, False), (False, True), (False, True)]
        assert G.availability_states(flags) == ["yes", "no", "maybe"]


# ---------------------------------------------------------------------
# 3. Spark == golden on the real faces; pinned constants hold
# ---------------------------------------------------------------------
@pytest.fixture(scope="module")
def golden():
    return G.tile_updated_all()


class TestSparkMatchesGolden:
    def test_slot_states_all_faces(self, spark, golden):
        for face in dee_faces.FACE_CONFIGS:
            rows = dee_faces.face_slots(spark, face).collect()
            got = {(r.iy, r.ix): r.state for r in rows}
            want = {(s.row, s.col): s.state for s in golden[face]["slots"]}
            assert got == want, f"{face} slot states diverge"

    def test_module_totals_match_pins(self, spark, golden):
        got = {
            r.face: (r.n_modules, r.n_supermodules)
            for r in dee_faces.face_module_totals(spark).collect()
        }
        for face, (n_mod, n_sm, _fc) in REAL_TILING_PINNED.items():
            assert got[face] == (n_mod, n_sm)
            assert golden[face]["n_modules"] == n_mod
            assert golden[face]["n_supermodules"] == n_sm

    def test_flavor_counts_match_pins(self, spark, golden):
        got = {
            (r.face, r.flavor): r.n_boards
            for r in dee_faces.face_flavor_counts(spark).collect()
        }
        for face, (_m, _s, fc) in REAL_TILING_PINNED.items():
            for fl, n in fc.items():
                assert got[(face, fl)] == n
                assert golden[face]["flavor_counts"][fl] == n

    def test_generated_slot_states_match_golden(self, golden):
        """The generated literal module (the driver oracle for
        tile_real_slot_states) equals a fresh golden re-derivation."""
        from etl_sh_design_spark._real_slot_states import REAL_SLOT_STATES

        fresh = sorted(
            (face, s.row, s.col, s.state)
            for face, res in golden.items()
            for s in res["slots"]
        )
        assert fresh == sorted(REAL_SLOT_STATES)

    def test_detector_print_shape(self, golden):
        """The dee_geometry.py:389-394 print: quarter total x4 and the
        Small/Medium/Large RB counts x4."""
        total = sum(r["n_modules"] for r in golden.values())
        counts = {3: 0, 6: 0, 7: 0}
        for r in golden.values():
            for k, v in r["flavor_counts"].items():
                counts[k] += v
        assert total * 4 == 7344
        assert (counts[3] * 4, counts[6] * 4, counts[7] * 4) == (196, 552, 492)


# ---------------------------------------------------------------------
# 4. board geometry laws
# ---------------------------------------------------------------------
class TestBoards:
    def test_board_census_law(self, spark):
        """Per face: RB = VTRX = n_supermodules; PB = n3 + 2*(n6+n7);
        every PB is exactly 3 modules high (ETL.py:511-533)."""
        b = dee_faces.face_boards(spark)
        kinds = {
            (r.face, r.kind): r.n
            for r in b.groupBy("face", "kind").agg(F.count("*").alias("n")).collect()
        }
        for face, (_m, n_sm, fc) in REAL_TILING_PINNED.items():
            assert kinds[(face, "RB")] == n_sm
            assert kinds[(face, "VTRX")] == n_sm
            assert kinds[(face, "PB")] == fc[3] + 2 * (fc[6] + fc[7])
        ph = b.filter(F.col("kind") == "PB").select("height").distinct().collect()
        assert len(ph) == 1 and abs(ph[0].height - dee_faces.PB_H3) < 1e-9

    def test_vtrx_rides_its_rb(self, spark):
        """VTRX x = RB.x2 - 32.5, y = RB.y + 6 (ETL.py:198-199)."""
        b = dee_faces.face_boards(spark)
        rb = b.filter(F.col("kind") == "RB").select(
            "face", "iy", "sm_start", F.col("x2").alias("rx2"), F.col("y").alias("ry")
        )
        vt = b.filter(F.col("kind") == "VTRX").select(
            "face", "iy", "sm_start", "x", "y"
        )
        j = vt.join(rb, ["face", "iy", "sm_start"]).collect()
        assert j
        for r in j:
            assert abs(r.x - (r.rx2 - dee_faces.VTRX_DX)) < 1e-9
            assert abs(r.y - (r.ry + dee_faces.VTRX_DY)) < 1e-9

    def test_orientation_mirrors_pb_rb(self, spark):
        """Above: RB below the SM center (-PB_W/2), PB above (+RB_W/2);
        below-orientation mirrors both (ETL.py:352-355)."""
        b = dee_faces.face_boards(spark)
        sm_y = F.col("y0") + (F.lit(dee_faces.N_ROWS // 2) - F.col("iy")) * dee_faces.SM_W
        j = b.join(F.broadcast(dee_faces.face_orientation_dim(spark)), "face").withColumn(
            "rel_y", F.col("y") - sm_y
        )
        rows = j.filter(F.col("kind") != "VTRX").select("kind", "osign", "rel_y").collect()
        for r in rows:
            want = (
                -r.osign * dee_faces.PB_W / 2
                if r.kind == "RB"
                else r.osign * dee_faces.RB_W / 2
            )
            assert abs(r.rel_y - want) < 1e-9, (r.kind, r.osign, r.rel_y)

    def test_split_pb_alignment(self, spark):
        """Flavor 7 splits right-aligned (shifter 1), flavor 6 splits
        centered (shifter 0): the two PB halves abut with no gap."""
        b = dee_faces.face_boards(spark)
        pb = (
            b.filter((F.col("kind") == "PB") & (F.col("flavor") > 5))
            .groupBy("face", "iy", "sm_start", "flavor")
            .agg(
                F.min("x1").alias("lo"),
                F.max("x2").alias("hi"),
                F.count("*").alias("n"),
                F.max(F.col("x1")).alias("hi_x1"),
                F.min(F.col("x2")).alias("lo_x2"),
            )
            .collect()
        )
        assert pb
        for r in pb:
            assert r.n == 2
            # halves abut: the left board's right edge == right board's left edge
            assert abs(r.hi_x1 - r.lo_x2) < 1e-9
            assert abs((r.hi - r.lo) - 2 * dee_faces.PB_H3) < 1e-9


# ---------------------------------------------------------------------
# 5. multi-variant acceptance: single ray scan, no per-variant rescan
# ---------------------------------------------------------------------
def _variant_hits(spark, n_rays, variants):
    from etl_sh_design_spark.plans import acceptance

    return acceptance.variant_per_ray(spark, n_rays, variants)


class TestMultiVariantPlan:
    def test_single_ray_scan(self, spark):
        """The physical plan's Range-source count must not grow with
        the variant count: rays are scanned once, and the per-bin
        totals come from the same per-ray table, regardless of 1 or 3
        variants."""
        from etl_sh_design_spark import datagen
        from etl_sh_design_spark.plans import acceptance

        def ray_scans(variants):
            df = acceptance.multi_variant_acceptance(_variant_hits(spark, 1000, variants))
            plan = df._jdf.queryExecution().executedPlan().toString()
            # the ray source is Range(0, n_rays); the corner tables are
            # also Range-backed but at other sizes — only the ray scans
            # must stay constant as variants are added
            return plan.count("Range (0, 1000")

        synth = datagen.sensors(spark).select("layer", "ax1", "ax2", "ay1", "ay2")
        one = ray_scans({"a": synth})
        three = ray_scans({"a": synth, "b": synth, "c": synth})
        assert one == 1  # one scan: the per-ray lookup feeds the totals
        assert three == one, f"ray scan multiplied by variants: {one} -> {three}"

    def test_hist_single_ray_scan_and_mass_conservation(self, spark):
        """The cells-62-66 histogram twin: (a) its ray-scan count is
        also variant-independent, (b) per variant the bins sum to the
        total ray count (every ray, misses included, lands in one
        bin), and (c) with one variant it reproduces the flagship
        per-ray histogram restricted to the same eta window."""
        from etl_sh_design_spark import datagen
        from etl_sh_design_spark.plans import acceptance

        synth = datagen.sensors(spark).select("layer", "ax1", "ax2", "ay1", "ay2")

        def ray_scans(variants):
            df = acceptance.multi_variant_hit_histogram(_variant_hits(spark, 1000, variants))
            plan = df._jdf.queryExecution().executedPlan().toString()
            return plan.count("Range (0, 1000")

        assert ray_scans({"a": synth, "b": synth, "c": synth}) == ray_scans(
            {"a": synth}
        )

        two = {"a": synth, "b": synth}
        rows = acceptance.multi_variant_hit_histogram(_variant_hits(spark, 5000, two)).collect()
        n_total = (
            datagen.rays(spark, 5000)
            .filter(F.col("eta") < acceptance.REAL_ETA_BINS.hi)
            .count()
        )
        by_variant: dict[str, int] = {}
        for r in rows:
            by_variant[r.variant] = by_variant.get(r.variant, 0) + r.cnt
        assert by_variant == {"a": n_total, "b": n_total}

        # single-variant equivalence vs the flagship per-ray oracle
        single = dict(
            duckdb.connect()
            .execute(
                acceptance._hits_cte(5000)
                + "SELECT CAST(n AS BIGINT) AS n, count(*) AS cnt FROM per_ray"
                + f" WHERE eta < {acceptance.REAL_ETA_BINS.hi!r} GROUP BY 1"
            )
            .fetchall()
        )
        one = {"s": synth}
        multi = {
            r.n: r.cnt
            for r in acceptance.multi_variant_hit_histogram(
                _variant_hits(spark, 5000, one)
            ).collect()
        }
        assert {k: v for k, v in multi.items() if v > 0} == {
            k: v for k, v in single.items() if v > 0
        }

    def test_matches_single_variant_profile(self, spark):
        """With one variant, the one-pass plan reproduces the
        single-variant real profile's eff/mean_n/mean_t exactly."""
        from etl_sh_design_spark import datagen
        from etl_sh_design_spark.plans import acceptance

        synth = datagen.sensors(spark).select("layer", "ax1", "ax2", "ay1", "ay2")
        one = {"s": synth}
        multi = {
            (r.eta_bin): (r.n_rays, r.eff, r.mean_n, r.mean_t)
            for r in acceptance.multi_variant_acceptance(_variant_hits(spark, 5000, one)).collect()
        }
        # independent recomputation from the flagship per-ray oracle,
        # restricted to the same eta window and bin spec
        b = acceptance.REAL_ETA_BINS
        single = {
            r[0]: r[1:]
            for r in duckdb.connect()
            .execute(
                acceptance._hits_cte(5000)
                + f"""
SELECT {b.bin_sql('eta')} AS eta_bin,
       count(*) AS n_rays,
       round(avg(CASE WHEN n > 0 THEN 1.0 ELSE 0.0 END), 6) AS eff,
       round(avg(CAST(n AS DOUBLE)), 6) AS mean_n,
       round(avg(CASE WHEN n > 0 THEN {acceptance.T_COEFF} / sqrt(n) END), 6) AS mean_t
FROM per_ray WHERE eta < {b.hi!r}
GROUP BY 1
"""
            )
            .fetchall()
        }
        assert set(multi) == set(single)
        for k in multi:
            mr, sr = multi[k], single[k]
            assert mr[0] == sr[0] and mr[1] == sr[1] and mr[2] == sr[2]
            # mean_t: multi computes sum/ n_hit, single avg(CASE) — same
            # value, different accumulation order; compare to 1e-9
            if mr[3] is not None and sr[3] is not None:
                assert abs(mr[3] - sr[3]) < 1e-6
