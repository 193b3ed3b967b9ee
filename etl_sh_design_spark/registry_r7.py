"""Round-7 extension registry: reference-fidelity closure queries.

1. The faithful REAL dee tiling (plans/dee_faces.py): per-face module
   totals, flavor counts, and board (RB/PB/VTRX) rollups of the
   'updated'/'S' tiling the reference prints at dee_geometry.py:382-394.
   The polygon overlap has no DuckDB twin (it is a higher-order-function
   kernel over literal polygon edges), so these queries pin against VALUES oracles carrying the counts
   INDEPENDENTLY re-derived by the sequential reference-algorithm
   golden (tools/ref_tiling_golden.py) — which itself reproduces five
   committed reference notebook outputs exactly (see its docstring) and
   is asserted equal to these constants in tests/test_faces_tiling.py.
   The driver check therefore says: the distributed declarative tiling
   == the sequential reference algorithm, end to end.

2. `boards_rollup`: the board-geometry arithmetic (ETL.py:163-204,
   312-357, 506-533) over a synthetic supermodule fixture with a FULL
   SQL oracle twin (both engines run the same explode arithmetic).

3. `acceptance_multi_variant`: the one-pass N-variant acceptance study
   (geometric_acceptance.ipynb cell 60) — one ray scan against a
   variant-tagged corner union, full SQL oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_sh_design_spark import datagen, memo
from etl_sh_design_spark.plans import acceptance, dee_faces
from etl_sh_design_spark.registry import N_RAYS, query
from etl_sh_design_spark.registry_r5c import _query_if
from etl_sh_design_spark.sources.io import reference_dir

# ---------------------------------------------------------------------
# golden-derived pinned counts for the real 'updated'/'S' tiling
# (tools/ref_tiling_golden.py tile_updated_all(); provenance chain in
# the module docstring). tests/test_faces_tiling.py recomputes these
# from the golden every run — a drift fails the suite, not the driver.
# ---------------------------------------------------------------------
REAL_TILING_PINNED = {
    # face: (n_modules, n_supermodules, {flavor: n_boards})
    "face1": (456, 76, {7: 36, 6: 28, 3: 12}),
    "face2": (460, 79, {7: 25, 6: 41, 3: 13}),
    "face3": (460, 76, {7: 37, 6: 28, 3: 11}),
    "face4": (460, 79, {7: 25, 6: 41, 3: 13}),
}

_FACE_MODULES_ORACLE = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{f}', CAST({m} AS BIGINT), CAST({s} AS BIGINT))"
        for f, (m, s, _fc) in REAL_TILING_PINNED.items()
    )
    + ") AS t(face, n_modules, n_supermodules)"
)

_FLAVOR_COUNTS_ORACLE = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{f}', {fl}, CAST({n} AS BIGINT))"
        for f, (_m, _s, fc) in REAL_TILING_PINNED.items()
        for fl, n in sorted(fc.items())
    )
    + ") AS t(face, flavor, n_boards)"
)


@query("tile_real_face_modules", _FACE_MODULES_ORACLE)
def q_tile_real_face_modules(spark, sf_dir):
    """Per-face module + supermodule totals of the faithful REAL
    'updated'/'S' dee tiling — the numbers dee_geometry.py:387-388
    prints per layer. Closes the last rows-only SURVEY row: the polygon
    path is now count-pinned against the independently re-derived
    reference algorithm (see module docstring for the oracle
    provenance).

    Plan: codegen grid -> Column polygon-flag kernel per face
    -> (face,iy)-keyed windows -> broadcast partition lookup -> 4-row
    agg. Shuffles only on row keys; a 1000x finer grid scales."""
    return dee_faces.face_module_totals(spark)


@query("tile_real_flavor_counts", _FLAVOR_COUNTS_ORACLE)
def q_tile_real_flavor_counts(spark, sf_dir):
    """Per-face RB flavor census of the real tiling (the quarter-ETL
    side of the Small/Medium/Large RB print, dee_geometry.py:392-394:
    totals x4 = 196/552/492)."""
    return dee_faces.face_flavor_counts(spark)


# ---------------------------------------------------------------------
# full per-slot state pin: every (face, iy, ix) slot's availability
# state vs the generated golden literal (strongest driver check of the
# availability machine — covers every maybe placement and polygon cut)
# ---------------------------------------------------------------------
from etl_sh_design_spark._real_slot_states import REAL_SLOT_STATES  # noqa: E402

_SLOT_STATES_ORACLE = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{f}', {iy}, {ix}, '{st}')" for f, iy, ix, st in REAL_SLOT_STATES)
    + ") AS t(face, iy, ix, state)"
)


@query("tile_real_slot_states", _SLOT_STATES_ORACLE)
def q_tile_real_slot_states(spark, sf_dir):
    """Per-slot availability state of the real tiling, all 4 faces x
    29x29 slots — pinned against the independently re-derived
    sequential golden (etl_sh_design_spark/_real_slot_states.py,
    generated from tools/ref_tiling_golden.py; regenerated+asserted by
    tests/test_faces_tiling.py). Slot-level, so a single flipped
    'maybe' anywhere in the availability machine fails the driver."""
    return dee_faces.all_face_slots(spark).select("face", "iy", "ix", "state")


# ---------------------------------------------------------------------
# committed-notebook pins as a DRIVER-checked query: the engine
# reproduces five outputs committed in the reference's own notebooks
# ---------------------------------------------------------------------
_ALL4 = [("above", "module"), ("above", "pb"), ("below", "module"), ("below", "pb")]

_NOTEBOOK_PINS = [
    # (config label, committed value, notebook provenance)
    ("example_modules_x4", 7704, "example.ipynb cell 14"),
    ("ga_small_module_x2", 3936, "geometric_acceptance.ipynb cell 8"),
    ("ga_large_module_x2", 3852, "geometric_acceptance.ipynb cell 19"),
    ("descoped_above_pb", 385, "example.ipynb cell 25"),
    ("ga_flavors_6_11_14", 3824, "geometric_acceptance.ipynb cell 30"),
]

_NOTEBOOK_PINS_ORACLE = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{c}', CAST({v} AS BIGINT))" for c, v, _src in _NOTEBOOK_PINS)
    + ") AS t(config, n_modules)"
)


@query("tile_notebook_pins", _NOTEBOOK_PINS_ORACLE)
def q_tile_notebook_pins(spark, sf_dir):
    """The five committed reference notebook outputs reproduced by the
    engine's tiling pipeline and pinned in the DRIVER correctness file
    (provenance per row in _NOTEBOOK_PINS; the notebooks ran the older
    no-maybe availability machine — tools/ref_tiling_golden.py
    docstring). All five configurations are bare-annulus (no blocked
    geometry), so the whole plan is pure whole-stage codegen.
    Session-memoized (etl_sh_design_spark.memo): rebuilding per call
    would mint fresh exprIds and defeat the Janino compile cache."""
    return memo.get(
        spark, "dee_faces", "tile_notebook_pins", lambda: _notebook_pins_plan(spark)
    )


def _notebook_pins_plan(spark):
    # ONE fused plan for all four underlying tilings (round-9 rewrite
    # of the four-chain config_module_totals form: per-config scalars
    # become columns of a broadcast dim, so the grid scan, window and
    # lookup join compile ONCE — the old form paid a Janino compile
    # per chain, ~7 s warm / ~45 s cold for four). The output rows are
    # the base totals times each notebook's disk multiplier
    # (example_modules_x4 and ga_large_module_x2 share a base tiling).
    base = dee_faces.multi_config_module_totals_no_maybe(
        spark,
        [
            dict(label="large", faces=_ALL4, mod_h=44.2, r_inner=315.0, edge_x=6.0),
            dict(label="small", faces=_ALL4, mod_h=43.10, r_inner=315.0, edge_x=6.0),
            dict(
                label="descoped", faces=[("above", "pb")],
                mod_h=44.2, r_inner=315.0, r_outer=1080.0, edge_x=6.0,
            ),
            dict(
                label="flavors", faces=_ALL4, flavors=(14, 11, 6),
                mod_h=42.5 / 2 + 0.5 + 0.6, r_inner=315.0, edge_x=6.0,
            ),
        ],
    )
    out_dim = spark.createDataFrame(
        [
            ("example_modules_x4", "large", 4),
            ("ga_large_module_x2", "large", 2),
            ("ga_small_module_x2", "small", 2),
            ("descoped_above_pb", "descoped", 1),
            ("ga_flavors_6_11_14", "flavors", 1),
        ],
        "out_config STRING, base STRING, mult INT",
    )
    return (
        base.join(F.broadcast(out_dim), base["config"] == out_dim["base"])
        .select(
            F.col("out_config").alias("config"),
            (F.col("n_modules") * F.col("mult")).cast("bigint").alias("n_modules"),
        )
    )
def _board_rollup_rows():
    rows = []
    for face, (_m, n_sm, fc) in REAL_TILING_PINNED.items():
        rb_area = sum(
            c * (f * dee_faces.MOD_H + (f - 1) * dee_faces.GAP) * dee_faces.RB_W
            for f, c in fc.items()
        )
        n_pb = fc.get(3, 0) + 2 * (fc.get(6, 0) + fc.get(7, 0))
        pb_area = n_pb * dee_faces.PB_H3 * dee_faces.PB_W
        vtrx_area = n_sm * dee_faces.VTRX_H * dee_faces.VTRX_W
        rows += [
            (face, "PB", n_pb, round(pb_area, 2)),
            (face, "RB", n_sm, round(rb_area, 2)),
            (face, "VTRX", n_sm, round(vtrx_area, 2)),
        ]
    return rows


_REAL_BOARDS_ORACLE = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{f}', '{k}', CAST({n} AS BIGINT), {a!r}::DOUBLE)"
        for f, k, n, a in _board_rollup_rows()
    )
    + ") AS t(face, kind, n_boards, total_area)"
)


@query("tile_real_boards", _REAL_BOARDS_ORACLE)
def q_tile_real_boards(spark, sf_dir):
    """RB/PB/VTRX board census of the real tiling: per (face, kind)
    counts + total board area. The Spark side explodes the placed
    supermodules into board rectangles (plans/dee_faces.py
    boards_from_supermodules); the oracle carries the totals derived
    from the pinned flavor census."""
    return dee_faces.boards_rollup(dee_faces.face_boards(spark))


# ---------------------------------------------------------------------
# synthetic supermodule fixture: FULL SQL oracle for the board
# arithmetic itself (positions, splits, orientation mirroring)
# ---------------------------------------------------------------------
_SM_FIXTURE = [
    # (face, iy, sm_start, flavor) — covers both orientations, both
    # centerings, all three flavors, split alignment, multiple rows
    ("face1", 10, 2, 7),
    ("face1", 10, 9, 6),
    ("face1", 11, 4, 3),
    ("face2", 12, 0, 7),
    ("face3", 14, 5, 6),
    ("face3", 14, 11, 3),
    ("face4", 16, 7, 7),
    ("face4", 18, 1, 6),
]

_SM_FIXTURE_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{f}', {iy}, {st}, {fl})" for f, iy, st, fl in _SM_FIXTURE)
    + ") AS sm(face, iy, sm_start, flavor)"
)

_FACE_DIM_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{face}', {dee_faces.face_y0(ori, cen)!r}::DOUBLE, "
        f"{1.0 if ori == 'above' else -1.0!r}::DOUBLE)"
        for face, (ori, cen, _r) in dee_faces.FACE_CONFIGS.items()
    )
    + ") AS d(face, y0, osign)"
)

_BOARDS_ROLLUP_SQL = (
    "WITH "
    + dee_faces.boards_sql(_SM_FIXTURE_SQL, _FACE_DIM_SQL)
    + """
SELECT face, iy, sm_start, flavor, kind, board_ix,
       round(x, 6) AS x, round(y, 6) AS y,
       round(height, 6) AS height, round(width, 6) AS width,
       round(x - height / 2, 6) AS x1, round(x + height / 2, 6) AS x2,
       round(y - width / 2, 6) AS y1, round(y + width / 2, 6) AS y2
FROM boards
"""
)


@query("boards_rollup", _BOARDS_ROLLUP_SQL)
def q_boards_rollup(spark, sf_dir):
    """Board-geometry arithmetic over a synthetic supermodule fixture —
    full per-board SQL oracle: RB/PB/VTRX positions, the flavor>5 PB
    split with right-alignment (shifter 0 only for flavor 6), and the
    above/below orientation mirroring (ETL.py:163-204, 352-357,
    506-533). Pure explode arithmetic, no UDF, broadcast face dim."""
    spark_sm = spark.createDataFrame(
        _SM_FIXTURE, "face STRING, iy INT, sm_start INT, flavor INT"
    )
    b = dee_faces.boards_from_supermodules(
        spark_sm, dee_faces.face_orientation_dim(spark)
    )
    return b.select(
        "face",
        "iy",
        "sm_start",
        "flavor",
        "kind",
        "board_ix",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("height", 6).alias("height"),
        F.round("width", 6).alias("width"),
        F.round("x1", 6).alias("x1"),
        F.round("x2", 6).alias("x2"),
        F.round("y1", 6).alias("y1"),
        F.round("y2", 6).alias("y2"),
    )


# ---------------------------------------------------------------------
# one-pass multi-variant acceptance (geometric_acceptance.ipynb cell 60)
# ---------------------------------------------------------------------
_REF_DIR = reference_dir()
_NEW_YAML = os.path.join(_REF_DIR, "layouts", "database_new.yaml")
_TDR_YAML = os.path.join(_REF_DIR, "layouts", "database_TDR.yaml")
_HAVE_YAMLS = os.path.isfile(_NEW_YAML) and os.path.isfile(_TDR_YAML)


def _mv_variants(spark) -> dict:
    """The fixed 3-variant corner set both multi-variant queries use.
    Memoized per session: each real_layout_sensors call re-parses the
    shipped YAML database and re-ships a ~2k-row createDataFrame from
    the driver — measured 1.5-3 s of pure CONSTRUCTION cost per build,
    which every rebuild of the per-ray table (bench.py clears `mv_hits`
    to time it) would pay again for identical static tables."""
    return memo.get(
        spark,
        "mv_variants",
        "corners",
        lambda: {
            "new": acceptance.real_layout_sensors(spark, _NEW_YAML, "new"),
            "TDR": acceptance.real_layout_sensors(spark, _TDR_YAML, "TDR"),
            "synthetic": datagen.sensors(spark).select(
                "layer", "ax1", "ax2", "ay1", "ay2"
            ),
        },
    )


# One per-(variant, ray) hit-count table per session: the ray scan +
# per-ray containment lookup is nearly all of BOTH multi-variant
# queries' plans and is variant-set-fixed at the registry layer, so the
# two queries (acceptance_multi_variant / _hist) would recompute the
# identical sub-plan per sweep. It is a lazy localCheckpoint, and
# bench.py times the build as its own `acceptance_family_shared` entry
# so each query reports only its tail.
def mv_per_hit(spark):
    return memo.get(
        spark,
        "mv_hits",
        N_RAYS,
        lambda: acceptance.variant_per_ray(spark, N_RAYS, _mv_variants(spark)).localCheckpoint(
            eager=False
        ),
    )


def _variant_corner_sql(yaml_path: str, layout: str) -> str:
    rows = acceptance.real_layout_sensor_rows(yaml_path, layout)
    values = ",".join(f"({lyr},{x!r},{y!r})" for lyr, x, y in rows)
    hx, hy = acceptance.REAL_ACTIVE_HALF_X, acceptance.REAL_ACTIVE_HALF_Y
    return (
        f"SELECT layer, x - {hx!r} AS ax1, x + {hx!r} AS ax2, "
        f"y - {hy!r} AS ay1, y + {hy!r} AS ay2 "
        f"FROM (VALUES {values}) AS c(layer, x, y)"
    )


@_query_if(
    _HAVE_YAMLS,
    "acceptance_multi_variant",
    acceptance.multi_variant_acceptance_sql(
        N_RAYS,
        {
            "new": _variant_corner_sql(_NEW_YAML, "new"),
            "TDR": _variant_corner_sql(_TDR_YAML, "TDR"),
            "synthetic": f"SELECT layer, ax1, ax2, ay1, ay2 FROM ({datagen.SENSORS_SQL})",
        },
    )
    if _HAVE_YAMLS
    else None,
)
def q_acceptance_multi_variant(spark, sf_dir):
    """N-variant acceptance profile from ONE ray scan: the 'new' and
    'TDR' shipped layouts plus the synthetic grid, as a variant-tagged
    corner union. Each ray is crossed with the 3-row variant dimension
    and counted by the per-ray lookup correlated on its variant, so
    the ray generator is scanned once whatever the variant count — the
    reference's cell-60 four-variant loop collapses into one pass.
    Plan-asserted single-scan in tests/test_faces_tiling.py. The
    per-ray table is the session memo shared with
    acceptance_multi_variant_hist (see mv_per_hit)."""
    return acceptance.multi_variant_acceptance(mv_per_hit(spark))


@_query_if(
    _HAVE_YAMLS,
    "acceptance_multi_variant_hist",
    acceptance.multi_variant_hit_histogram_sql(
        N_RAYS,
        {
            "new": _variant_corner_sql(_NEW_YAML, "new"),
            "TDR": _variant_corner_sql(_TDR_YAML, "TDR"),
            "synthetic": f"SELECT layer, ax1, ax2, ay1, ay2 FROM ({datagen.SENSORS_SQL})",
        },
    )
    if _HAVE_YAMLS
    else None,
)
def q_acceptance_multi_variant_hist(spark, sf_dir):
    """Per-(variant, n) hit-count histogram + per-variant mean from
    the SAME one-pass ray scan as `acceptance_multi_variant`
    (geometric_acceptance.ipynb cells 62-66: one `Hist1D(nHits[v],
    "5,-0.5,4.5")` per variant plus its printed mean) — round-8
    closure of VERDICT r7 item 6. Misses are rays with n = 0, so the
    n = 0 bin is a plain group. The per-ray table is the session memo
    shared with acceptance_multi_variant (see mv_per_hit)."""
    return acceptance.multi_variant_hit_histogram(mv_per_hit(spark))
