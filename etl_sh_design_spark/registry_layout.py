"""Layout-loop queries: dee tiling, modules and bias-voltage (BV)
grouping, readout boards, partitions, occupancy and bandwidth.

- the synthetic tiling chain (plans/tiling.py): slots, runs,
  supermodules, flavor counts, the slot census and the ordinal join;
- the faithful REAL dee tiling (plans/dee_faces.py), pinned against
  VALUES oracles carrying the counts independently re-derived by the
  sequential reference-algorithm golden (tools/ref_tiling_golden.py),
  which reproduces five committed reference notebook outputs and is
  asserted equal to these constants in tests/test_faces_tiling.py; plus
  the board arithmetic over a synthetic supermodule fixture with a full
  SQL twin;
- modules and BV grouping on the synthetic grid: the module rollup, the
  W4 greedy scan and its totals, the W7 per-supermodule split search,
  the module pairs and the BV zones;
- partitions (U2) and the pinned partition table;
- the occupancy / bandwidth study;
- the same studies over the reference's shipped layout (the D2 face of
  `database_new.yaml`) and the export-pipeline parity check, which
  register through the reference-data gate (`registry.reference_query`).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark import datagen, memo
from etl_sh_design_spark._real_slot_states import REAL_SLOT_STATES
from etl_sh_design_spark.functions import physics
from etl_sh_design_spark.operators.bv_grouping import (
    BUDGET_MICRO,
    SM_SIZE,
    best_consecutive_split,
    bv_totals,
    find_bv_config,
    greedy_bv_groups,
    modules_from_sensors,
)
from etl_sh_design_spark.operators.histogram import BinSpec, histogram1d
from etl_sh_design_spark.operators.partition import PARTITION_LOOKUP_SQL, partition_lookup
from etl_sh_design_spark.plans import dee_faces, tiling
from etl_sh_design_spark.plans.acceptance import REAL_FACE_LAYERS, real_layout_sensor_rows
from etl_sh_design_spark.registry import (
    FACE_TSVS,
    NEW_YAML,
    _t,
    query,
    ref_path,
    reference_query,
)
from etl_sh_design_spark.sources.io import (
    derive_sensor_centers,
    load_yaml_layout_rows,
    read_face_tsv,
    read_face_tsv_sql,
    read_yaml_layout,
    split_corrupt,
)


# =====================================================================
# the tiling chain on the synthetic dee (SURVEY.md §2.10 U4, §3.1 stage 4)
# =====================================================================

@query("tile_slots", tiling.SLOTS_SQL)
def q_tile_slots(spark, sf_dir):
    """Slot availability states after containment + blocked-region +
    neighbor rules."""
    return tiling.slots(spark).select(
        "iy", "ix", "state", F.coalesce("available", F.lit(False)).alias("available")
    )


@query("tile_runs", tiling.RUNS_SQL)
def q_tile_runs(spark, sf_dir):
    """W5 gaps-and-islands: contiguous available runs per slot row."""
    return tiling.runs(spark)


@query("tile_supermodules", tiling.SUPERMODULES_SQL)
def q_tile_supermodules(spark, sf_dir):
    """U2 partition join + running-sum placement of readout boards."""
    return tiling.supermodules(spark)


@query("tile_flavor_counts", tiling.FLAVOR_COUNTS_SQL)
def q_tile_flavor_counts(spark, sf_dir):
    """A6 per-flavor board counts x4 mirror factor."""
    return tiling.flavor_counts(spark)


@query(
    "a5_slot_state_counts",
    tiling.SLOTS_SQL.replace(
        "SELECT iy, ix, state, coalesce(available, FALSE) AS available FROM slots",
        """
SELECT state, count(*) AS n_slots,
       CAST(sum(CASE WHEN coalesce(available, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_available
FROM slots GROUP BY 1
""",
    ),
)
def q_slot_state_counts(spark, sf_dir):
    """A5: slot availability census + fill-factor inputs
    (ETL.py:810-816 semantics)."""
    s = tiling.slots(spark)
    return s.groupBy("state").agg(
        F.count(F.lit(1)).alias("n_slots"),
        F.sum(F.coalesce(F.col("available"), F.lit(False)).cast("int"))
        .cast("bigint")
        .alias("n_available"),
    )


@query(
    "j6_ordinal_join",
    "WITH "
    + tiling.RUNS_CTE
    + f""",
ranked AS (
  SELECT iy, start_ix, n_slots,
         CAST(row_number() OVER (ORDER BY iy, start_ix) AS INT) AS rn
  FROM runs
),
mp AS ({datagen.MOD_PARTITIONS_SQL})
SELECT r.rn AS row_ordinal, r.iy, r.start_ix, r.n_slots, m.n_boards
FROM ranked r JOIN mp m ON r.rn = m.row_ordinal
""",
)
def q_ordinal_join(spark, sf_dir):
    """J6: match the i-th pinned partition spec to the i-th layout row
    by ordinal (bias_voltage.py:105-114 semantics) — row_number on one
    side, equi-join on the ordinal."""
    # ordinal WITHOUT WindowExec: `runs` is the O(100)-row derived
    # layout table; rn = |rows sorting at-or-before me| via a broadcast
    # theta-join (bounded by construction) — no single-partition window.
    # (tiling.runs is itself the session-memoized checkpoint since
    # round 12 — no second checkpoint needed.)
    runs = tiling.runs(spark)
    r2 = runs.select(F.col("iy").alias("iy2"), F.col("start_ix").alias("sx2"))
    at_or_before = (F.col("iy2") < F.col("iy")) | (
        (F.col("iy2") == F.col("iy")) & (F.col("sx2") <= F.col("start_ix"))
    )
    ranked = (
        runs.join(F.broadcast(r2), at_or_before)
        .groupBy("iy", "start_ix", "n_slots")
        .agg(F.count(F.lit(1)).cast("int").alias("rn"))
    )
    mp = datagen.mod_partitions(spark)
    return (
        ranked.join(F.broadcast(mp), ranked.rn == mp.row_ordinal)
        .select(
            F.col("rn").alias("row_ordinal"),
            "iy",
            "start_ix",
            "n_slots",
            "n_boards",
        )
    )


# =====================================================================
# the REAL dee tiling
# =====================================================================

@query(
    "tile_slots_real_bbox",
    "WITH "
    + tiling._slots_sql(tiling.real_bbox_blocked_sql())
    + " SELECT iy, ix, state, coalesce(available, FALSE) AS available FROM slots",
)
def q_tile_slots_real_bbox(spark, sf_dir):
    """Slot availability against the bounding boxes of the
    reference's REAL 'updated'-layout blocked shapes (nose circle,
    feedthrough band, 12 attachments — dee_geometry.py:60-132) —
    the SQL-expressible over-approximation of the exact polygon path
    (`tile_slots_polygon`). Broadcast dimension join + per-row window;
    scales with |slots|."""
    return tiling.slots_real(spark, geometry="bbox").select(
        "iy", "ix", "state", "available"
    )


@query(
    "tile_slots_polygon",
    "WITH "
    + tiling.real_polygon_slots_sql()
    + " SELECT iy, ix, state, coalesce(available, FALSE) AS available FROM slots",
)
def q_tile_slots_polygon(spark, sf_dir):
    """Slot availability against the EXACT real blocked polygons via
    the rect-polygon overlap (Liang-Barsky + ray cast, one Column
    expression over all 15 shapes, map-only).

    Round-8 upgrade (VERDICT r7 item 2): full VALUES-corrected oracle
    instead of rows-only. The polygon predicate itself is not SQL, but
    its RESULT is: the bbox twin is a proven strict over-approximation
    whose gap is exactly the 26 pinned corner-cut slots
    (tiling.POLY_FREE_BBOX_BLOCKED — independently re-derived by the
    sequential golden's rect-overlap implementation and by dense
    point sampling in tests/test_polygon_tiling.py), so the oracle
    runs the bbox SQL chain with that set corrected to unblocked."""
    return tiling.slots_real(spark, geometry="polygon").select(
        "iy", "ix", "state", "available"
    )


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


# =====================================================================
# modules and BV grouping on the synthetic grid
# =====================================================================
_NXNY = datagen.NX * datagen.NY


@query(
    "module_rollup",
    f"""
WITH sensors AS ({datagen.SENSORS_SQL}),
s AS (
  SELECT layer, sensor_id, x, y,
         CAST(layer - 1 AS BIGINT) * {_NXNY}
           + CAST(floor((sensor_id % {_NXNY}) / {datagen.NY}) AS BIGINT) * {datagen.NY}
           + CAST(floor(((sensor_id % {_NXNY}) % {datagen.NY}) / 2) AS BIGINT) AS module_id,
         sqrt(x*x + y*y) AS r
  FROM sensors
)
SELECT layer, module_id,
       round(min(r), 6) AS r_min,
       round(max(r), 6) AS r_max,
       round(sum({physics.CURRENT_SQL.format(r='r')}), 6) AS current,
       count(*) AS n_sensors,
       CASE WHEN min(r) < 520.0e0 THEN 'FBK' ELSE 'HPK' END AS vendor
FROM s
GROUP BY 1, 2
""",
)
def q_module_rollup(spark, sf_dir):
    """A1/A2/P17: sensor->module rollup with min/max corner radius,
    summed current, vendor split."""
    mods = modules_from_sensors(datagen.sensors(spark))
    return mods.select(
        "layer",
        "module_id",
        F.round("r_min", 6).alias("r_min"),
        F.round("r_max", 6).alias("r_max"),
        F.round("current", 6).alias("current"),
        "n_sensors",
        "vendor",
    )


# The W4 greedy scan IS oracle-expressible after all: the sequential
# state (running current + group-head breakdown limit) advances one
# ordinal at a time, which a recursive CTE walks exactly — each
# iteration joins the frontier row of every (layer, vendor) partition
# to its rn+1 successor. `m AS MATERIALIZED` is load-bearing: without
# it DuckDB re-evaluates the whole sensor-fixture CTE once per
# recursion step (~1100 steps, 43 s -> 1.9 s).
_MODULES_SQL = f"""
SELECT layer, module_id, min(r) AS r_min, max(r) AS r_max,
       sum({physics.CURRENT_SQL.format(r='r')}) AS current,
       CASE WHEN min(r) < 520.0e0 THEN 'FBK' ELSE 'HPK' END AS vendor
FROM (
  SELECT layer, sensor_id,
         CAST(layer - 1 AS BIGINT) * {_NXNY}
           + CAST(floor((sensor_id % {_NXNY}) / {datagen.NY}) AS BIGINT) * {datagen.NY}
           + CAST(floor(((sensor_id % {_NXNY}) % {datagen.NY}) / 2) AS BIGINT) AS module_id,
         sqrt(x*x + y*y) AS r
  FROM ({datagen.SENSORS_SQL})
)
GROUP BY 1, 2
"""

# CURVES constants from operators/bv_grouping.py (the 5 fC rows of
# sensors.py:15,29): FBK w13 5fC (435.93, -2251.2), HPK split4 5fC (526.14, -2792.0).
_GREEDY_SCAN_SQL = f"""
WITH RECURSIVE mods AS ({_MODULES_SQL}),
m AS MATERIALIZED (
  SELECT layer, vendor, module_id, r_min, r_max, current,
         row_number() OVER (PARTITION BY layer, vendor
                            ORDER BY r_max DESC, module_id ASC) AS rn,
         CASE WHEN vendor = 'FBK' THEN 435.93e0 ELSE 526.14e0 END AS ca,
         CASE WHEN vendor = 'FBK' THEN -2251.2e0 ELSE -2792.0e0 END AS cb
  FROM mods
),
scan AS (
  SELECT layer, vendor, rn, r_min, r_max, current,
         CAST(0 AS BIGINT) AS gid, current AS run_current,
         ca * ln(r_max) + cb AS lim
  FROM m WHERE rn = 1
  UNION ALL
  SELECT n.layer, n.vendor, n.rn, n.r_min, n.r_max, n.current,
         CASE WHEN s.run_current + n.current > 20.0e0 OR n.r_min <= s.lim
              THEN s.gid + 1 ELSE s.gid END,
         CASE WHEN s.run_current + n.current > 20.0e0 OR n.r_min <= s.lim
              THEN n.current ELSE s.run_current + n.current END,
         CASE WHEN s.run_current + n.current > 20.0e0 OR n.r_min <= s.lim
              THEN n.ca * ln(n.r_max) + n.cb ELSE s.lim END
  FROM scan s JOIN m n
    ON n.layer = s.layer AND n.vendor = s.vendor AND n.rn = s.rn + 1
),
bv_groups AS (
  SELECT layer, vendor, gid AS group_id, count(*) AS n_modules,
         sum(current) AS sum_current, min(r_min) AS r_min, max(r_max) AS r_max
  FROM scan GROUP BY 1, 2, 3
)
"""


@query(
    "bv_greedy_groups",
    _GREEDY_SCAN_SQL
    + """
SELECT layer, vendor, group_id, n_modules,
       round(sum_current, 6) AS sum_current,
       round(r_min, 6) AS r_min, round(r_max, 6) AS r_max
FROM bv_groups
""",
)
def q_bv_greedy(spark, sf_dir):
    """W4 greedy BV grouping (one `aggregate` fold per (layer,
    vendor)) — one row per BV group per (layer, vendor). Oracle:
    recursive-CTE walk of the same ordered scan (bias_voltage.py:449-493
    semantics)."""
    groups = greedy_bv_groups(modules_from_sensors(datagen.sensors(spark)))
    return groups.select(
        "layer",
        "vendor",
        "group_id",
        "n_modules",
        F.round("sum_current", 6).alias("sum_current"),
        F.round("r_min", 6).alias("r_min"),
        F.round("r_max", 6).alias("r_max"),
    )


@query(
    "bv_totals",
    _GREEDY_SCAN_SQL
    + """
SELECT vendor, count(*) AS n_groups,
       CAST(sum(n_modules) AS BIGINT) AS n_modules,
       round(sum(CAST(round(round(sum_current, 6) * 1e6) AS BIGINT)) / 1e6, 6) AS total_current,
       round(max(round(sum_current, 6)), 6) AS max_group_current
FROM bv_groups GROUP BY 1
""",
)
def q_bv_totals(spark, sf_dir):
    """A9 per-vendor totals over the W4 grouping result."""
    return bv_totals(greedy_bv_groups(modules_from_sensors(datagen.sensors(spark))))


def _bv_config_search_sql() -> str:
    """W7 oracle: the same mask enumeration as
    bv_grouping.best_consecutive_split, in DuckDB SQL. Feasible because
    (a) SMs hold <= SM_SIZE modules so the whole search space is <= 64
    masks x 7 positions per SM, and (b) currents are quantized to
    integer micro-amps, so budget checks / balance tie-breaks /
    reported sums are exact integers on both engines.
    seg_id(pos) = popcount(mask & ((1 << pos) - 1)) maps each module
    position to its segment under a split mask."""
    nxny = datagen.NX * datagen.NY
    ny = datagen.NY
    cur = physics.CURRENT_SQL.format(r="r")
    return f"""
WITH sensors AS ({datagen.SENSORS_SQL}),
mods AS (
  SELECT layer, module_id, min(x) AS x, min(r) AS r_min, max(r) AS r_max,
         CAST(round(sum({cur}) * 1e6) AS BIGINT) AS cur_micro,
         CASE WHEN min(r) < 520.0e0 THEN 'FBK' ELSE 'HPK' END AS vendor
  FROM (
    SELECT layer, sensor_id, x,
           CAST(layer - 1 AS BIGINT) * {nxny}
             + CAST(floor((sensor_id % {nxny}) / {ny}) AS BIGINT) * {ny}
             + CAST(floor(((sensor_id % {nxny}) % {ny}) / 2) AS BIGINT) AS module_id,
           sqrt(x*x + y*y) AS r
    FROM sensors
  )
  GROUP BY 1, 2
),
sm AS (
  SELECT layer, module_id, x, r_min, r_max, cur_micro, vendor,
         module_id % {ny} AS band,
         CAST(floor((row_number() OVER (PARTITION BY layer, module_id % {ny}
                     ORDER BY x, module_id) - 1) / {SM_SIZE}) AS BIGINT) AS sm_ordinal
  FROM mods
),
pos AS (
  SELECT *, row_number() OVER (PARTITION BY layer, band, sm_ordinal
                               ORDER BY r_max DESC, module_id ASC) - 1 AS p
  FROM sm
),
meta AS (
  SELECT layer, band, sm_ordinal, count(*) AS n, arg_min(vendor, p) AS vendor0
  FROM pos GROUP BY 1, 2, 3
),
masks AS (
  SELECT layer, band, sm_ordinal, n, vendor0,
         unnest(range(0, CASE WHEN n > 1 THEN (CAST(1 AS BIGINT) << (n - 1)) ELSE 1 END)) AS mask
  FROM meta
),
segd AS (
  SELECT k.layer, k.band, k.sm_ordinal, k.mask, k.vendor0,
         p.cur_micro, p.r_min, p.r_max,
         bit_count(CAST(k.mask AS BIGINT) & ((CAST(1 AS BIGINT) << p.p) - 1)) AS seg_id
  FROM masks k JOIN pos p USING (layer, band, sm_ordinal)
),
segs AS (
  SELECT layer, band, sm_ordinal, mask, vendor0, seg_id,
         count(*) AS n_modules, sum(cur_micro) AS s_micro,
         min(r_min) AS seg_rmin, max(r_max) AS seg_rmax
  FROM segd GROUP BY 1, 2, 3, 4, 5, 6
),
segv AS (
  SELECT *,
         (s_micro <= {BUDGET_MICRO}) AND (seg_rmin >
            (CASE WHEN vendor0 = 'FBK' THEN 435.93e0 ELSE 526.14e0 END) * ln(seg_rmax)
            + (CASE WHEN vendor0 = 'FBK' THEN -2251.2e0 ELSE -2792.0e0 END)) AS ok
  FROM segs
),
meval AS (
  SELECT layer, band, sm_ordinal, mask, bool_and(ok) AS valid,
         count(*) AS n_segs, max(s_micro) - min(s_micro) AS balance
  FROM segv GROUP BY 1, 2, 3, 4
),
best AS (
  SELECT layer, band, sm_ordinal, mask FROM (
    SELECT layer, band, sm_ordinal, mask,
           row_number() OVER (PARTITION BY layer, band, sm_ordinal
                              ORDER BY n_segs, balance, mask) AS rk
    FROM meval WHERE valid
  ) WHERE rk = 1
),
chosen AS (
  SELECT m.layer, m.band, m.sm_ordinal,
         coalesce(b.mask,
                  CASE WHEN m.n > 1 THEN (CAST(1 AS BIGINT) << (m.n - 1)) - 1
                       ELSE 0 END) AS mask
  FROM meta m LEFT JOIN best b USING (layer, band, sm_ordinal)
)
SELECT s.layer, s.band, s.sm_ordinal,
       CAST(s.seg_id AS INT) AS seg_ordinal,
       CAST(s.n_modules AS INT) AS n_modules,
       round(s.s_micro / 1e6, 6) AS sum_current,
       round(s.seg_rmin, 6) AS r_min,
       round(s.seg_rmax, 6) AS r_max
FROM segs s
JOIN chosen c ON s.layer = c.layer AND s.band = c.band
             AND s.sm_ordinal = c.sm_ordinal AND s.mask = c.mask
"""


@query("bv_config_search", _bv_config_search_sql())
def q_bv_config(spark, sf_dir):
    """W7 per-supermodule BV config exact search (zero-UDF mask
    enumeration, bv_grouping.best_consecutive_split)."""
    cfg = find_bv_config(modules_from_sensors(datagen.sensors(spark)))
    return cfg.select(
        "layer",
        "band",
        "sm_ordinal",
        "seg_ordinal",
        "n_modules",
        F.round("sum_current", 6).alias("sum_current"),
        F.round("r_min", 6).alias("r_min"),
        F.round("r_max", 6).alias("r_max"),
    )


@query(
    "j4_sm_module_pairs",
    f"""
WITH sensors AS ({datagen.SENSORS_SQL}),
m AS (
  SELECT layer,
         CAST(layer - 1 AS BIGINT) * {datagen.NX * datagen.NY}
           + CAST(floor((sensor_id % {datagen.NX * datagen.NY}) / {datagen.NY}) AS BIGINT) * {datagen.NY}
           + CAST(floor(((sensor_id % {datagen.NX * datagen.NY}) % {datagen.NY}) / 2) AS BIGINT) AS module_id,
         avg(x) AS x
  FROM sensors GROUP BY 1, 2
),
mb AS (SELECT layer, module_id, module_id % {datagen.NY} AS band, x FROM m)
SELECT a.layer AS layer, a.band AS band,
       count(*) AS n_pairs,
       round(max(abs(a.x - b.x)), 6) AS max_dx
FROM mb a JOIN mb b
  ON a.layer = b.layer AND a.band = b.band AND a.module_id < b.module_id
GROUP BY 1, 2
""",
)
def q_sm_pairs(spark, sf_dir):
    """J4 self-join: all module pairs within a band/supermodule row
    (`combinations(self.modules, 2)` ETL.py:424-425 semantics)."""
    m = modules_from_sensors(datagen.sensors(spark)).withColumn(
        "band", F.col("module_id") % datagen.NY
    )
    a = m.select("layer", "band", F.col("module_id").alias("ma"), F.col("x").alias("xa"))
    b = m.select("layer", "band", F.col("module_id").alias("mb"), F.col("x").alias("xb"))
    return (
        a.join(b, ["layer", "band"])
        .filter(F.col("ma") < F.col("mb"))
        .groupBy("layer", "band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.max(F.abs(F.col("xa") - F.col("xb"))), 6).alias("max_dx"),
        )
    )


_ZONES_SQL = (
    "SELECT * FROM (VALUES (1, 0.0e0, 400.0e0), (2, 400.0e0, 520.0e0), "
    "(3, 520.0e0, 700.0e0), (4, 700.0e0, 900.0e0), (5, 900.0e0, 1300.0e0)) "
    "AS zones(zone, lo, hi)"
)


@query(
    "bv_zone_counts",
    f"""
WITH sensors AS ({datagen.SENSORS_SQL}),
zones AS ({_ZONES_SQL}),
s AS (SELECT sqrt(x*x + y*y) AS r FROM sensors)
SELECT z.zone AS zone, count(*) AS n_sensors,
       round(avg({physics.CURRENT_SQL.format(r='s.r')}), 6) AS mean_current
FROM s JOIN zones z ON s.r >= z.lo AND s.r < z.hi
GROUP BY 1
""",
)
def q_bv_zones(spark, sf_dir):
    """J8 range-join: sensor radius -> first enclosing BV zone, with
    per-zone current stats (bias_voltage.ipynb get_n_BV semantics)."""
    zones = spark.createDataFrame(
        [(1, 0.0, 400.0), (2, 400.0, 520.0), (3, 520.0, 700.0), (4, 700.0, 900.0), (5, 900.0, 1300.0)],
        "zone INT, lo DOUBLE, hi DOUBLE",
    )
    s = datagen.sensors(spark).select(
        F.sqrt(F.col("x") ** 2 + F.col("y") ** 2).alias("r")
    )
    joined = s.join(
        F.broadcast(zones), (F.col("r") >= F.col("lo")) & (F.col("r") < F.col("hi"))
    )
    return joined.groupBy("zone").agg(
        F.count(F.lit(1)).alias("n_sensors"),
        F.round(F.avg(physics.sensor_current(physics.irradiation("r"))), 6).alias(
            "mean_current"
        ),
    )


# =====================================================================
# partitions (U2) and the pinned partition table
# =====================================================================
@query(
    "p21_flavor_surgery",
    f"""
WITH mp AS ({datagen.MOD_PARTITIONS_SQL}),
rewritten AS (
  SELECT row_ordinal,
         CASE WHEN flavors[len(flavors)] = 6
              THEN list_concat(list_slice(flavors, 1, len(flavors) - 1), [3, 3])
              ELSE flavors END AS flavors
  FROM mp
)
SELECT row_ordinal, CAST(ordinal AS INT) AS ordinal, flavor
FROM (SELECT row_ordinal, unnest(flavors) AS flavor,
             generate_subscripts(flavors, 1) AS ordinal
      FROM rewritten)
""",
)
def q_flavor_surgery(spark, sf_dir):
    """P21 conditional array rewrite (layout_print.ipynb cells 15-16
    semantics): rows ending in a 6-board get it replaced by [3,3];
    exploded with ordinals for hashing."""
    mp = datagen.mod_partitions(spark)
    rewritten = mp.withColumn(
        "flavors",
        F.when(
            F.element_at("flavors", -1) == 6,
            F.concat(F.slice("flavors", 1, F.size("flavors") - 1), F.array(F.lit(3), F.lit(3))),
        ).otherwise(F.col("flavors")),
    )
    return rewritten.select(
        "row_ordinal", F.posexplode("flavors").alias("pos", "flavor")
    ).select("row_ordinal", (F.col("pos") + 1).cast("int").alias("ordinal"), "flavor")


@query(
    "partition_flavors",
    f"""
WITH ns AS (SELECT DISTINCT p_size AS n FROM part),
pl AS ({PARTITION_LOOKUP_SQL})
SELECT n, ordinal, flavor, n_boards, covered
FROM ns JOIN pl USING (n)
""",
)
def q_partition_flavors(spark, sf_dir):
    """U2 integer-partition DP as a broadcast lookup join: decompose
    each distinct p_size into readout-board flavors {7,6,3}
    (partition.py:26-67 semantics, lookup-table strategy)."""
    ns = _t(spark, sf_dir, "part").select(F.col("p_size").alias("n")).distinct()
    return ns.join(F.broadcast(partition_lookup(spark)), "n").select(
        "n", "ordinal", "flavor", "n_boards", "covered"
    )


@query(
    "mod_partition_totals",
    f"""
WITH mp AS ({datagen.MOD_PARTITIONS_SQL})
SELECT flavor, count(*) AS n_boards, count(DISTINCT row_ordinal) AS n_rows
FROM (SELECT row_ordinal, unnest(flavors) AS flavor FROM mp)
GROUP BY 1
""",
)
def q_mod_partition_totals(spark, sf_dir):
    """S7 pinned-partition seed table exploded to per-flavor board
    counts (A6 flavor-count aggregation)."""
    mp = datagen.mod_partitions(spark)
    return (
        mp.select("row_ordinal", F.explode("flavors").alias("flavor"))
        .groupBy("flavor")
        .agg(
            F.count(F.lit(1)).alias("n_boards"),
            F.countDistinct("row_ordinal").alias("n_rows"),
        )
    )


# =====================================================================
# occupancy and bandwidth
# =====================================================================
# (reference occupancy.py semantics: P11 occupancy curve, A3 per-module
# means, A10 histogram, A14 weighted bandwidth reduction, P20 threshold)

_OCC_BINS = BinSpec(24, 0.0, 1.2)
_L1A = 750e3  # L1 accept rate, Hz (header constant, occupancy.py:254-268 shape)
_BW_CONST = 40 * 256 / 100.0 * 16 * _L1A / 1e12  # bits/hit -> Tb/s scaling


@query(
    "occupancy_summary",
    f"""
WITH sensors AS ({datagen.SENSORS_SQL}),
s AS (SELECT layer, sqrt(x*x + y*y) AS r FROM sensors),
o AS (SELECT layer, {physics.OCCUPANCY_SQL.format(r='r')} AS occ FROM s)
SELECT layer,
       count(*) AS n_sensors,
       round(avg(occ), 6) AS mean_occ,
       CAST(sum(CASE WHEN occ > 0.5e0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot
FROM o GROUP BY 1
""",
)
def q_occupancy_summary(spark, sf_dir):
    """A3 + P20: per-layer mean sensor occupancy and hot-sensor count
    (threshold predicate over the P11 curve)."""
    s = datagen.sensors(spark).withColumn("r", F.sqrt(F.col("x") ** 2 + F.col("y") ** 2))
    occ = physics.occupancy("r")
    return s.groupBy("layer").agg(
        F.count(F.lit(1)).alias("n_sensors"),
        F.round(F.avg(occ), 6).alias("mean_occ"),
        F.sum((occ > 0.5).cast("int")).cast("bigint").alias("n_hot"),
    )


@query(
    "occupancy_per_etroc",
    f"""
WITH sensors AS ({datagen.SENSORS_SQL}),
e AS (
  SELECT layer, etroc, sqrt(ex * ex + y * y) AS r
  FROM (
    SELECT layer, y,
           unnest([x - {datagen.HALF_H!r}, x + {datagen.HALF_H!r}]) AS ex,
           unnest([0, 1]) AS etroc
    FROM sensors
  )
),
o AS (SELECT layer, etroc, {physics.OCCUPANCY_SQL.format(r='r')} AS occ FROM e)
SELECT layer, CAST(etroc AS INT) AS etroc,
       count(*) AS n_etrocs,
       round(avg(occ), 6) AS mean_occ,
       round(max(occ), 6) AS max_occ
FROM o GROUP BY 1, 2
""",
)
def q_occupancy_per_etroc(spark, sf_dir):
    """P11 per-ETROC occupancy (ETL.py:154-161, per_etroc=True): each
    sensor reads out through TWO ETROCs at x -/+ h/2, each with its own
    occupancy sample — explode(array(x -/+ h/2)) then the same P11
    curve, summarized per (layer, etroc side). The explode is map-side
    (2x rows, no shuffle until the layer-sized groupBy)."""
    s = datagen.sensors(spark)
    e = s.select(
        "layer",
        "y",
        F.posexplode(
            F.array(F.col("x") - datagen.HALF_H, F.col("x") + datagen.HALF_H)
        ).alias("etroc", "ex"),
    ).withColumn("r", F.sqrt(F.col("ex") ** 2 + F.col("y") ** 2))
    occ = physics.occupancy("r")
    return e.groupBy("layer", F.col("etroc").cast("int").alias("etroc")).agg(
        F.count(F.lit(1)).alias("n_etrocs"),
        F.round(F.avg(occ), 6).alias("mean_occ"),
        F.round(F.max(occ), 6).alias("max_occ"),
    )


@query(
    "bandwidth_totals",
    f"""
WITH sensors AS ({datagen.SENSORS_SQL}),
o AS (SELECT {physics.OCCUPANCY_SQL.format(r='sqrt(x*x + y*y)')} AS occ FROM sensors),
h AS (
  SELECT {_OCC_BINS.bin_sql('occ')} AS bin, count(*) AS cnt
  FROM o WHERE {_OCC_BINS.range_sql('occ')}
  GROUP BY 1
)
SELECT round(sum({_OCC_BINS.center_sql('bin')} * {_BW_CONST!r} * cnt), 6) AS total_bandwidth_tbs,
       CAST(sum(cnt) AS BIGINT) AS n_sensors
FROM h
""",
)
def q_bandwidth_totals(spark, sf_dir):
    """A14: aggregate-over-histogram — weighted bandwidth reduction of
    the binned occupancy distribution (occupancy.py:254-268 shape)."""
    s = datagen.sensors(spark).withColumn(
        "occ", physics.occupancy(F.sqrt(F.col("x") ** 2 + F.col("y") ** 2))
    )
    h = histogram1d(s, "occ", _OCC_BINS)
    return h.agg(
        F.round(F.sum(F.col("bin_center") * _BW_CONST * F.col("cnt")), 6).alias(
            "total_bandwidth_tbs"
        ),
        F.sum("cnt").cast("bigint").alias("n_sensors"),
    )


# =====================================================================
# the studies over the REAL layout (gated on the reference checkout)
# =====================================================================
# The occupancy.py study (occupancy.py:40-260). Sensor(42.5, 22): the two ETROCs sit at x -/+ height/2
# (ETL.py:154-159); occupancy histogram axis Regular(20, 0, 1) in
# percent; bandwidth model occupancy.py:246-260 (l1a 750 kHz, 28600
# ETROCs detector-wide for the header term, 16-bit hit words, 256
# pixels, 40 MHz fraction).
_ETROC_DX = 42.5 / 2
_N_ETROCS = 28_600.0
_OCC_NBINS, _OCC_LO, _OCC_HI = 20, 0.0, 1.0

# occupancy.py:96-121 — the study's pinned per-module-row partitions
# for the D2 x>0 half (y_top key = the upper sensor row's y), kept as
# (ordinal, y_top, n_boards, flavor list). Semantic port, not a copy:
# this is the reference's printed configuration data.
_OCC_MOD_PARTITIONS = [
    (1, 1039.65, 1, [7]),
    (2, 953.95, 2, [7, 6]),
    (3, 868.25, 3, [7, 6, 3]),
    (4, 782.55, 3, [6, 6, 6]),
    (5, 696.85, 3, [7, 7, 6]),
    (6, 611.15, 4, [7, 6, 6, 3]),
    (7, 525.45, 4, [7, 7, 6, 3]),
    (8, 439.75, 4, [7, 6, 6, 3]),
    (9, 354.05, 3, [7, 6, 3]),
    (10, 268.35, 3, [7, 6, 6]),
    (11, 182.65, 3, [6, 6, 6]),
    (12, 96.95, 3, [7, 7, 3]),
    (13, 11.25, 3, [6, 6, 3]),
    (14, -74.45, 3, [6, 6, 3]),
    (15, -160.15, 3, [6, 6, 6]),
    (16, -245.85, 3, [7, 6, 6]),
    (17, -331.55, 3, [7, 6, 6]),
    (18, -417.25, 4, [3, 7, 7, 3]),
    (19, -502.95, 4, [7, 7, 6, 3]),
    (20, -588.65, 4, [7, 6, 6, 3]),
    (21, -674.35, 3, [7, 7, 7]),
    (22, -760.05, 3, [7, 6, 6]),
    (23, -845.75, 3, [7, 7, 3]),
    (24, -931.45, 3, [6, 6, 3]),
    (25, -1017.15, 2, [7, 3]),
    (26, -1102.85, 1, [3]),
]

_OCC_MP_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"({o}, {y!r}, {n}, {sum(fl)})" for o, y, n, fl in _OCC_MOD_PARTITIONS
    )
    + ") AS mp(row_ord, y_top, n_boards, n_modules_partition)"
)


def _d2_centers_sql() -> str:
    """x>0 sensor centers of the study's face (disk1/back = D2) as a
    VALUES CTE — the same driver-flattened rows the Spark side reads."""
    rows = [
        (x, y)
        for lyr, x, y in real_layout_sensor_rows(ref_path(NEW_YAML), "new")
        if lyr == 2 and x > 0
    ]
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(f"({x!r}, {y!r})" for x, y in rows)
        + ") AS c(x, y)"
    )


def _d2_centers(spark):
    c = read_yaml_layout(spark, ref_path(NEW_YAML))
    return c.filter(
        (F.col("layout") == "new")
        & (F.col("disk") == "disk1")
        & (F.col("face") == "back")
        & (F.col("x") > 0)
    ).select("x", "y")


@reference_query(
    "real_occupancy_bandwidth",
    [NEW_YAML],
    lambda: f"""
WITH c AS ({_d2_centers_sql()}),
e AS (
  SELECT {physics.OCCUPANCY_SQL.format(r='sqrt(ex * ex + y * y)')} AS occ
  FROM (SELECT unnest([x - {_ETROC_DX!r}, x + {_ETROC_DX!r}]) AS ex, y FROM c)
),
h AS (
  SELECT CAST(floor((occ - {_OCC_LO!r}) / {(_OCC_HI - _OCC_LO) / _OCC_NBINS!r}) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM e WHERE occ >= {_OCC_LO!r} AND occ < {_OCC_HI!r}
  GROUP BY 1
)
SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS n_sensors,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_etrocs_measured,
       CAST(sum(cnt) AS BIGINT) AS n_etrocs_in_range,
       round(CAST({80.0 * _N_ETROCS * _L1A / 1e12!r} AS DOUBLE), 6) AS bandwidth_header_tbs,
       round(sum(({_OCC_LO!r} + (bin + 0.5) * {(_OCC_HI - _OCC_LO) / _OCC_NBINS!r})
                 * 40 * 256 / 100 * cnt * 16 * {_L1A!r} / 1e12), 6)
         AS bandwidth_data_tbs
FROM h
""",
)
def q_real_occupancy_bandwidth(spark, sf_dir):
    """The occupancy.py:40-260 study over the REAL `database_new` D2
    face (disk1/back, x>0 half): per-ETROC occupancy at x -/+ h/2
    (P11), the 20-bin [0,1)% histogram, and the reference's bandwidth
    model — fixed header term (80 bits x 28600 ETROCs x 750 kHz) plus
    the occupancy-weighted data term summed over histogram bins (A14).
    Out-of-range ETROCs (occ >= 1%) fall out of the data term exactly
    as hist.Hist's flow bins fall out of `.values()` in the reference.

    Scale shape: map-side explode (2x rows) -> bins-sized groupBy;
    every term is a broadcast scalar. One shuffle, sketch-sized."""
    c = _d2_centers(spark)
    e = c.select(
        F.posexplode(
            F.array(F.col("x") - _ETROC_DX, F.col("x") + _ETROC_DX)
        ).alias("etroc", "ex"),
        "y",
    ).select(physics.occupancy(F.sqrt(F.col("ex") ** 2 + F.col("y") ** 2)).alias("occ"))
    width = (_OCC_HI - _OCC_LO) / _OCC_NBINS
    h = (
        e.filter((F.col("occ") >= _OCC_LO) & (F.col("occ") < _OCC_HI))
        .groupBy(
            F.floor((F.col("occ") - _OCC_LO) / width).cast("bigint").alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # LAZY scalar side: the sensor count rides a 1-row aggregate
    # cross-joined in (the former eager .count() executed at
    # queries()-construction time; tests/test_lazy_construction.py)
    totals = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sensors"),
        (F.count(F.lit(1)) * 2).cast("bigint").alias("n_etrocs_measured"),
    )
    return (
        h.agg(
            F.sum("cnt").cast("bigint").alias("n_etrocs_in_range"),
            F.round(F.lit(80.0 * _N_ETROCS * _L1A / 1e12), 6).alias(
                "bandwidth_header_tbs"
            ),
            F.round(
                F.sum(
                    (_OCC_LO + (F.col("bin") + 0.5) * width)
                    * 40 * 256 / 100 * F.col("cnt") * 16 * _L1A / 1e12
                ),
                6,
            ).alias("bandwidth_data_tbs"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "n_sensors",
            "n_etrocs_measured",
            "n_etrocs_in_range",
            "bandwidth_header_tbs",
            "bandwidth_data_tbs",
        )
    )


# --------------------------------------------------------------------
# layout_print.ipynb cell 16/18: readout-board flavor tally from the
# REAL layout via the U2 partition DP
# --------------------------------------------------------------------
@reference_query(
    "real_partition_flavors",
    [NEW_YAML],
    lambda: f"""
WITH c AS ({_d2_centers_sql()}),
ranked AS (
  SELECT y, row_number() OVER (ORDER BY y DESC) - 1 AS rk
  FROM (SELECT DISTINCT y FROM c)
),
rows_ AS (
  SELECT CAST(floor(r.rk / 2) AS INT) + 1 AS row_ord,
         CAST(count(*) / 2 AS INT) AS n_modules
  FROM c JOIN ranked r ON c.y = r.y
  GROUP BY 1
),
pl AS ({PARTITION_LOOKUP_SQL})
SELECT CAST(p.flavor AS INT) AS flavor,
       CAST(count(*) AS BIGINT) AS n_boards,
       CAST(sum(p.flavor) AS BIGINT) AS n_modules_covered
FROM rows_ w JOIN pl p ON p.n = w.n_modules
GROUP BY 1
""",
)
def q_real_partition_flavors(spark, sf_dir):
    """layout_print.ipynb cells 16-18 over the REAL layout: per-row
    module counts from the exported D2 x>0 centers, fed through the
    reference's getPartition DP (U2 — pinned equal to the reference's
    partition.py in tests/test_golden_invariants.py), tallying readout
    boards per flavor. Broadcast lookup join over a 26-row dimension."""
    mods = _real_modules(spark)
    rows_ = mods.groupBy("row_ord").agg(
        F.count(F.lit(1)).cast("int").alias("n_modules")
    )
    pl = F.broadcast(partition_lookup(spark))
    return (
        rows_.join(pl, rows_.n_modules == pl.n)
        .groupBy("flavor")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_boards"),
            F.sum("flavor").cast("bigint").alias("n_modules_covered"),
        )
        .select(F.col("flavor").cast("int").alias("flavor"), "n_boards", "n_modules_covered")
    )


# --------------------------------------------------------------------
# the bias_voltage.py study over the REAL layout (bias_voltage.py:18-175)
# --------------------------------------------------------------------
# Sensor active-corner half-extents (Sensor(42.5, 22), deadspace 0.5)
_AHX, _AHY = 42.5 / 2 - 0.5, 22.0 / 2 - 0.5

# The study's 8 single-sensor configurations (bias_voltage.py:118-128)
# = the w13/split4 breakdown curves of sensors.py:12-35.
_BV_CONFIGS = [
    ("FBK_w13_2p5fC", 499.43, -2618.8),
    ("FBK_w13_5fC", 435.93, -2251.2),
    ("FBK_w13_10fC", 363.91, -1834.6),
    ("FBK_w13_15fC", 333.15, -1664.5),
    ("HPK_split4_2p5fC", 578.03, -3103.6),
    ("HPK_split4_5fC", 526.14, -2792.0),
    ("HPK_split4_10fC", 481.91, -2544.6),
    ("HPK_split4_15fC", 446.32, -2338.6),
]


def _sm_slices(modify_partitions: bool = False):
    """(row_ord, sm_idx, start, n_mod) — each supermodule's module
    slice within its x-sorted row, from the study's partition table
    (bias_voltage.py:105-115 slicing loop). `modify_partitions=True`
    reverses each row's flavor order — the reference's 'forced short
    RBs at the center' toggle (occupancy.py:127,
    layout_print.ipynb cell 16)."""
    out = []
    for o, _y, _n, flavors in _OCC_MOD_PARTITIONS:
        fl = list(reversed(flavors)) if modify_partitions else flavors
        start = 0
        for j, f in enumerate(fl):
            out.append((o, j, start, f))
            start += f
    return out


def _d2_rows(spark):
    """(row_ord, x, y): the D2 x>0 sensor centers with their module row
    — consecutive distinct-y sensor rows paired, 2 sensors per module
    in y. The rank runs over the 52-row distinct-y DIMENSION (global
    window whitelisted: dimension-bounded by the layout contract)."""
    c = _d2_centers(spark)
    ranked = (
        c.select("y")
        .distinct()
        .withColumn("rk", F.row_number().over(W.orderBy(F.col("y").desc())) - 1)
    )
    # (round-13 A/B note: F.broadcast(ranked) here — and on the other
    # dimension-sized SMJs in this module — was tried and measured
    # SLOWER interleaved at sf0.1: both sides are <= 7k rows, so the
    # SMJ shuffles are trivial while each explicit BroadcastExchange
    # adds a blocking build job. The stats-free-SMJ gotcha matters
    # when the PROBE side is big; these joins are dimension x
    # dimension by the layout contract.)
    return c.join(ranked, "y").select(
        (F.floor(F.col("rk") / 2) + 1).cast("int").alias("row_ord"), "x", "y"
    )


def _real_modules(spark):
    """(row_ord, mod_idx, r_min, r_max) for the D2 x>0 modules:
    active-corner radius extremes per module
    (ETL.py:43-52 get_sensors_r_min_max over setActiveArea corners)."""
    sens = _d2_rows(spark).select(
        "row_ord",
        "x",
        F.sqrt(
            F.least((F.col("x") - _AHX) ** 2, (F.col("x") + _AHX) ** 2)
            + F.least((F.col("y") - _AHY) ** 2, (F.col("y") + _AHY) ** 2)
        ).alias("rmin_s"),
        F.sqrt(
            F.greatest((F.col("x") - _AHX) ** 2, (F.col("x") + _AHX) ** 2)
            + F.greatest((F.col("y") - _AHY) ** 2, (F.col("y") + _AHY) ** 2)
        ).alias("rmax_s"),
    )
    mods = sens.groupBy("row_ord", "x").agg(
        F.min("rmin_s").alias("r_min"), F.max("rmax_s").alias("r_max")
    )
    wrow = W.partitionBy("row_ord").orderBy("x")
    return mods.withColumn("mod_idx", F.row_number().over(wrow) - 1).select(
        "row_ord", "mod_idx", "r_min", "r_max"
    )


def real_sm_modules(spark, modify_partitions: bool = False):
    """(row_ord, sm_idx, n_mod, p, r_min, r_max): the study's
    supermodule-sliced real modules (p = 0-based x-ordered position
    within the SM)."""
    mods = _real_modules(spark)
    slices = spark.createDataFrame(
        _sm_slices(modify_partitions),
        "row_ord INT, sm_idx INT, start INT, n_mod INT",
    )
    return (
        mods.join(
            F.broadcast(slices),
            (mods.row_ord == slices.row_ord)
            & (mods.mod_idx >= slices.start)
            & (mods.mod_idx < slices.start + slices.n_mod),
        )
        .select(
            slices.row_ord,
            "sm_idx",
            "n_mod",
            (F.col("mod_idx") - F.col("start")).alias("p"),
            "r_min",
            "r_max",
        )
    )


def bv_min_segments(smm, cfg):
    """Minimum consecutive-split BV segmentation per (supermodule,
    config) with the W7 split search (ETL.py:423-493 find_BV_config
    semantics: endpoint-corner validity, singles always accepted).

    smm: (row_ord, sm_idx, n_mod, p, r_min, r_max) — one row per
    module position p (0-based, x-ordered) per supermodule; an SM with
    more than bv_grouping.SM_SIZE (7) positions fails in-plan.
    cfg: (config, a, b) breakdown curves.
    Returns (config, row_ord, sm_idx, n_segs)."""
    ok = (F.col("n_modules") == 1) | (
        F.col("e_rmin") > F.col("a") * F.log("e_rmax") + F.col("b")
    )
    positions = smm.crossJoin(F.broadcast(cfg)).withColumn("cur_micro", F.lit(0))
    best = best_consecutive_split(positions, ["config", "a", "b", "row_ord", "sm_idx"], ok)
    return best.filter(F.col("seg_id") == 0).select(
        "config", "row_ord", "sm_idx", F.col("n_segs").cast("bigint").alias("n_segs")
    )


def _real_bv_sql() -> str:
    configs = ", ".join(f"('{n}', {a!r}, {b!r})" for n, a, b in _BV_CONFIGS)
    slices = ", ".join(f"({o}, {j}, {s}, {n})" for o, j, s, n in _sm_slices())
    return f"""
WITH c AS ({_d2_centers_sql()}),
ranked AS (
  SELECT y, row_number() OVER (ORDER BY y DESC) - 1 AS rk
  FROM (SELECT DISTINCT y FROM c)
),
sens AS (
  SELECT CAST(floor(r.rk / 2) AS INT) + 1 AS row_ord, c.x,
         sqrt(least((c.x - {_AHX!r}) * (c.x - {_AHX!r}), (c.x + {_AHX!r}) * (c.x + {_AHX!r}))
              + least((c.y - {_AHY!r}) * (c.y - {_AHY!r}), (c.y + {_AHY!r}) * (c.y + {_AHY!r}))) AS rmin_s,
         sqrt(greatest((c.x - {_AHX!r}) * (c.x - {_AHX!r}), (c.x + {_AHX!r}) * (c.x + {_AHX!r}))
              + greatest((c.y - {_AHY!r}) * (c.y - {_AHY!r}), (c.y + {_AHY!r}) * (c.y + {_AHY!r}))) AS rmax_s
  FROM c JOIN ranked r ON c.y = r.y
),
mods AS (
  SELECT row_ord, x, min(rmin_s) AS r_min, max(rmax_s) AS r_max,
         row_number() OVER (PARTITION BY row_ord ORDER BY x) - 1 AS mod_idx
  FROM (SELECT row_ord, x, min(rmin_s) AS rmin_s, max(rmax_s) AS rmax_s
        FROM sens GROUP BY 1, 2)
  GROUP BY row_ord, x, rmin_s, rmax_s
),
slices AS (SELECT * FROM (VALUES {slices}) AS s(row_ord, sm_idx, start, n_mod)),
cfg AS (SELECT * FROM (VALUES {configs}) AS f(config, a, b)),
smm AS (
  SELECT s.row_ord, s.sm_idx, s.n_mod, m.mod_idx - s.start AS p,
         m.r_min, m.r_max
  FROM slices s JOIN mods m
    ON m.row_ord = s.row_ord AND m.mod_idx >= s.start AND m.mod_idx < s.start + s.n_mod
),
masks AS (
  SELECT row_ord, sm_idx, n_mod,
         unnest(range(0, CAST(1 AS BIGINT) << (n_mod - 1))) AS mask
  FROM (SELECT DISTINCT row_ord, sm_idx, n_mod FROM smm)
),
segd AS (
  SELECT f.config, f.a, f.b, k.row_ord, k.sm_idx, k.mask,
         bit_count(CAST(k.mask AS BIGINT) & ((CAST(1 AS BIGINT) << m.p) - 1)) AS seg_id,
         m.p, m.r_min, m.r_max
  FROM masks k
  JOIN smm m ON m.row_ord = k.row_ord AND m.sm_idx = k.sm_idx
  CROSS JOIN cfg f
),
segs AS (
  SELECT config, a, b, row_ord, sm_idx, mask, seg_id, count(*) AS n_in_seg,
         least(arg_min(r_min, p), arg_max(r_min, p)) AS e_rmin,
         greatest(arg_min(r_max, p), arg_max(r_max, p)) AS e_rmax
  FROM segd GROUP BY 1, 2, 3, 4, 5, 6, 7
),
meval AS (
  SELECT config, row_ord, sm_idx, mask,
         bool_and(n_in_seg = 1 OR e_rmin > a * ln(e_rmax) + b) AS valid,
         count(*) AS n_segs
  FROM segs GROUP BY 1, 2, 3, 4
),
minseg AS (
  SELECT config, row_ord, sm_idx, min(n_segs) AS n_segs
  FROM meval WHERE valid GROUP BY 1, 2, 3
),
prob AS (
  SELECT f.config, count(*) AS n_problematic
  FROM (SELECT DISTINCT row_ord, sm_idx, p, r_min, r_max FROM smm) m
  CROSS JOIN cfg f
  WHERE m.r_min <= f.a * ln(m.r_max) + f.b
  GROUP BY 1
)
SELECT s.config,
       CAST(count(*) AS BIGINT) AS n_sms,
       CAST(sum(s.n_segs) AS BIGINT) AS bv_channels,
       CAST(sum(s.n_segs + 1) AS BIGINT) AS bv_leads,
       CAST(coalesce(any_value(p.n_problematic), 0) AS BIGINT) AS n_problematic
FROM minseg s LEFT JOIN prob p ON s.config = p.config
GROUP BY s.config
"""


@reference_query("real_bv_study", [NEW_YAML], _real_bv_sql)
def q_real_bv_study(spark, sf_dir):
    """The bias_voltage.py study over the REAL layout: build the D2
    x>0 modules and the study's supermodules (partition-table slices
    over x-sorted module rows), then for each of the 8 single-sensor
    configurations find each SM's minimum consecutive-split BV
    grouping and report the study's printed totals — `BV leads
    needed` = sum(segments + 1), `BV channels needed` = sum(segments)
    — plus the problematic-module count.

    Semantics are the reference's exactly (ETL.py:423-493): a
    multi-module segment is valid iff the ENDPOINT modules' active
    corners satisfy r_min > curve(r_max) (the pair check in
    find_BV_config — interior modules are not re-checked), single
    segments are always accepted (problematic ones flagged), and the
    all-singles split guarantees a solution.

    Spark-first shape: ZERO UDFs — the <=2^6 split masks per SM are
    exploded per module row (147 SMs x <=64 masks x <=7 positions x 8
    configs ~ 0.5M codegen rows), validity/minimum reduced by
    aggregation and windows keyed on (config, row, sm)."""
    smm = real_sm_modules(spark)
    cfg = spark.createDataFrame(_BV_CONFIGS, "config STRING, a DOUBLE, b DOUBLE")
    minseg = bv_min_segments(smm, cfg)
    prob = (
        smm.select("row_ord", "sm_idx", "p", "r_min", "r_max")
        .distinct()
        .crossJoin(F.broadcast(cfg))
        .filter(F.col("r_min") <= F.col("a") * F.log(F.col("r_max")) + F.col("b"))
        .groupBy("config")
        .agg(F.count(F.lit(1)).alias("n_problematic"))
    )
    return (
        minseg.groupBy("config")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sms"),
            F.sum("n_segs").cast("bigint").alias("bv_channels"),
            F.sum(F.col("n_segs") + 1).cast("bigint").alias("bv_leads"),
        )
        .join(prob, "config", "left")
        .select(
            "config",
            "n_sms",
            "bv_channels",
            "bv_leads",
            F.coalesce(F.col("n_problematic"), F.lit(0)).cast("bigint").alias(
                "n_problematic"
            ),
        )
    )


@reference_query(
    "real_module_rows",
    [NEW_YAML],
    lambda: f"""
WITH c AS ({_d2_centers_sql()}),
ys AS (SELECT DISTINCT y FROM c),
ranked AS (
  SELECT y, row_number() OVER (ORDER BY y DESC) - 1 AS rk FROM ys
),
paired AS (
  SELECT c.y, CAST(floor(r.rk / 2) AS INT) + 1 AS row_ord
  FROM c JOIN ranked r ON c.y = r.y
),
real_rows AS (
  SELECT row_ord, CAST(count(*) / 2 AS BIGINT) AS n_modules_real
  FROM paired GROUP BY 1
)
SELECT m.row_ord, CAST(m.y_top AS DOUBLE) AS y_top, m.n_boards,
       CAST(m.n_modules_partition AS BIGINT) AS n_modules_partition,
       r.n_modules_real,
       r.n_modules_real = m.n_modules_partition AS match
FROM ({_OCC_MP_SQL}) m JOIN real_rows r USING (row_ord)
""",
)
def q_real_module_rows(spark, sf_dir):
    """Cross-check of the study's pinned per-row partitions
    (occupancy.py:96-121) against the REAL layout: pair consecutive
    distinct y positions into module rows (2 sensors per module in y),
    count modules per row from the real centers, and compare with the
    partition table's flavor sums. All 26 rows match — the proof that
    the S7-style literal seed tables and the real exported layout
    describe the same detector."""
    real_rows = _d2_rows(spark).groupBy("row_ord").agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_modules_real")
    )
    mp = spark.createDataFrame(
        [(o, y, n, sum(fl)) for o, y, n, fl in _OCC_MOD_PARTITIONS],
        "row_ord INT, y_top DOUBLE, n_boards INT, n_modules_partition INT",
    )
    return (
        F.broadcast(mp)
        .join(real_rows, "row_ord")
        .select(
            "row_ord",
            "y_top",
            "n_boards",
            F.col("n_modules_partition").cast("bigint").alias("n_modules_partition"),
            "n_modules_real",
            (F.col("n_modules_real") == F.col("n_modules_partition")).alias("match"),
        )
    )


# --------------------------------------------------------------------
# export-pipeline parity: Face TSVs -> sensor centers == shipped YAML
# --------------------------------------------------------------------
def _shipped_values_sql() -> str:
    rows = load_yaml_layout_rows(ref_path(NEW_YAML))
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"('{d}', '{f}', {x!r}, {y!r})" for _lo, d, f, x, y in rows
        )
        + ") AS s(disk, face, x, y)"
    )


# Face TSV i holds the modules of layer i of acceptance.REAL_FACE_LAYERS.
def _export_check_sql() -> str:
    derived = " UNION ALL ".join(
        f"""SELECT '{d}' AS disk, '{f}' AS face, x AS cx,
            unnest([y + 11.25, y - 11.25]) AS cy
        FROM ({read_face_tsv_sql(ref_path(FACE_TSVS[i]), i)})"""
        for d, f, i in REAL_FACE_LAYERS
    )
    return f"""
WITH derived AS ({derived}),
shipped AS ({_shipped_values_sql()}),
dc AS (SELECT disk, face, round(cx, 6) AS cx, round(cy, 6) AS cy,
              count(*) AS n FROM derived GROUP BY 1, 2, 3, 4),
sc AS (SELECT disk, face, round(x, 6) AS cx, round(y, 6) AS cy,
              count(*) AS n FROM shipped GROUP BY 1, 2, 3, 4),
j AS (
  SELECT coalesce(dc.disk, sc.disk) AS disk,
         coalesce(dc.face, sc.face) AS face,
         coalesce(dc.n, 0) AS dn, coalesce(sc.n, 0) AS sn
  FROM dc FULL OUTER JOIN sc
    ON dc.disk = sc.disk AND dc.face = sc.face
   AND dc.cx = sc.cx AND dc.cy = sc.cy
)
SELECT disk, face,
       CAST(sum(dn) AS BIGINT) AS n_derived,
       CAST(sum(sn) AS BIGINT) AS n_shipped,
       bool_and(dn = sn) AS multiset_match
FROM j GROUP BY 1, 2
"""


@reference_query(
    "real_export_centers_check", [NEW_YAML, *FACE_TSVS.values()], _export_check_sql
)
def q_real_export_centers_check(spark, sf_dir):
    """Export-pipeline parity (realistic_layout_export.ipynb cells
    2-13): derive the sensor centers from the reference's shipped
    Face 1-4 TSVs through the engine's S1 scan + center derivation,
    and verify per (disk, face) that the derived multiset EQUALS the
    shipped `database_new.yaml` (it does — 7180/7180 centers, all
    four faces; byte-order equality is pinned separately in
    tests/test_reference_parity.py). Dimension-sized end to end."""
    parts = []
    for d, f, i in REAL_FACE_LAYERS:
        clean, _ = split_corrupt(read_face_tsv(spark, ref_path(FACE_TSVS[i])))
        parts.append(
            derive_sensor_centers(clean).select(
                F.lit(d).alias("disk"), F.lit(f).alias("face"), "cx", "cy"
            )
        )
    derived = parts[0]
    for p in parts[1:]:
        derived = derived.unionByName(p)
    shipped = read_yaml_layout(spark, ref_path(NEW_YAML)).select(
        "disk", "face", F.col("x").alias("cx"), F.col("y").alias("cy")
    )
    # Round 13 (guide §2.4): the per-center count comparison ran as a
    # FULL OUTER sort-merge join of the two grouped sides (two
    # exchanges + two sorts). A full-outer join on the GROUP KEY is
    # exactly a union-then-aggregate: tag each side's rows, union, and
    # conditionally count per (disk, face, cx, cy) — the key set is
    # "keys present in either side" and absent-side counts coalesce to
    # 0, identically to the join. One exchange, no sorts.
    tagged = derived.select(
        "disk",
        "face",
        F.round("cx", 6).alias("cx"),
        F.round("cy", 6).alias("cy"),
        F.lit(1).alias("is_d"),
    ).unionByName(
        shipped.select(
            "disk",
            "face",
            F.round("cx", 6).alias("cx"),
            F.round("cy", 6).alias("cy"),
            F.lit(0).alias("is_d"),
        )
    )
    j = tagged.groupBy("disk", "face", "cx", "cy").agg(
        F.sum("is_d").alias("dn"),
        F.sum(1 - F.col("is_d")).alias("sn"),
    )
    return j.groupBy("disk", "face").agg(
        F.sum("dn").cast("bigint").alias("n_derived"),
        F.sum("sn").cast("bigint").alias("n_shipped"),
        F.min((F.col("dn") == F.col("sn")).cast("int")).cast("boolean").alias(
            "multiset_match"
        ),
    )
