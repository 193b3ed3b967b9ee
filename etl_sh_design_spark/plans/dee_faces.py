"""Faithful per-face REAL dee tiling — the Spark re-expression of the
reference's `Dee.populate` driven exactly as `dee_geometry.py.__main__`
drives it for the 'updated' layout, module size 'S' (the flagship
tiling whose counts the reference prints at dee_geometry.py:382-394).

Shares its core with plans/tiling.py (the stand-in slot pipeline kept
for the SQL-expressible §2 oracles): the blocked-geometry builders,
the runs / two-pass fallback and the board placement window are
tiling.py's, called here keyed by (face, iy). It differs in three
reference-fidelity respects:

1. The slot grid is the reference's: built from a 1-module SuperModule
   (module 43.10x56.50 + PB width 29.5 -> 43.10 x 86.0 slots), centered
   per face config (centerModule/centerPB x above/below,
   ETL.py:411-421, dee_geometry.py:346-351), edge_x=8, 29x29 slots.
2. Availability is the reference's 8-corner annulus condition on the
   SM rect ('yes') or on module[0]'s rect only ('maybe' candidates,
   ETL.py:586-609), gated on polygon overlap with the real 'updated'
   geometry, plus the one-maybe-per-row sliding state machine
   (ETL.py:610-629) — expressed DECLARATIVELY (see below), not as a
   sequential scan.
3. face1 is the special first layer: r_inner=322 and shorter inner
   attachments (dee_geometry.py:244-277).

The sequential reference machine (one maybe per row, sliding outward)
reduces to a closed form over maximal chains of consecutive
module-only slots — proven equivalent by exhaustive property test
(tests/test_faces_tiling.py) and slot-for-slot against the sequential
golden (tools/ref_tiling_golden.py):

  * a chain directly preceded by a 'yes' slot qualifies only if its
    length >= 2 (the first chain slot burns on the prev-yes rule
    without consuming the row's maybe budget);
  * the FIRST qualifying chain in column order wins the row's single
    maybe, placed on its LAST slot (the slide moves it outward);
  * every other module-only slot is 'no'.

Plan shape / scale: grid generation and the annulus conditions are
whole-stage codegen; the blocked flags are one Column expression per
rect (operators/polygon.py: higher-order functions over the
dimension-sized polygon set as a literal, no Python worker); the chain
rule is one pass of two (face, iy) windows over the flags, read once —
no join, so the slot table is one pipeline that shuffles on row keys
only, and a 1000x finer grid still shuffles only row keys. Counting is
a partition-lookup broadcast join + map-side combine aggregation.

Committed-output validation: the shared algorithm (grid + corner
conditions + partition + counting, no polygons) reproduces FIVE
committed reference notebook numbers exactly — see
tools/ref_tiling_golden.py docstring and tests/test_faces_tiling.py.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark import memo
from etl_sh_design_spark.operators.partition import DEFAULT_FLAVORS, partition_lookup
from etl_sh_design_spark.operators.polygon import point_in_polygon, rect_overlap_count
from etl_sh_design_spark.plans.tiling import (
    ETL_OUTER,
    FEED_Y,
    FEEDTHROUGH_X,
    NOSE_R,
    _runs_from,
    circle_polygon,
    outer_attachments,
    place_boards,
    runs_two_pass_from,
    updated_inner_attachments,
)

MOD_H, MOD_W = 43.10, 56.50  # 'S' module x/y extent (dee_geometry.py:316-319)
GAP = 0.5
PB_W, RB_W = 29.5, 56.5  # dee_geometry.py:337-339
SM_W = MOD_W + PB_W  # 86.0 — 1-module SuperModule y-extent
EDGE_X = 8.0  # dee_geometry.py:379
N_ROWS = int(2 * ETL_OUTER / SM_W) + 2  # 29 (ETL.py:569)
N_COLS = int(ETL_OUTER / (MOD_H + GAP)) + 2  # 29 (ETL.py:570)
COL_STEP = MOD_H + GAP
X0 = MOD_H / 2 + EDGE_X  # centerModule/centerPB both zero x1; + edge_x

# face -> (orientation, centering, r_inner); dee_geometry.py:346-362
FACE_CONFIGS = {
    "face1": ("above", "module", 322.0),
    "face2": ("above", "pb", 302.0),
    "face3": ("below", "module", 302.0),
    "face4": ("below", "pb", 302.0),
}


def face_y0(orientation: str, centering: str) -> float:
    """Grid-origin SM center y from SuperModule.centerModule/centerPB
    (ETL.py:411-421) applied to the 1-module SM."""
    if centering == "module":
        return SM_W / 2 - RB_W / 2 if orientation == "above" else SM_W / 2 - PB_W - RB_W / 2
    return -SM_W / 2 + PB_W / 2 if orientation == "above" else SM_W / 2 - PB_W / 2


def module_dy(orientation: str) -> float:
    """module[0] center offset from the SM center (ETL.py:340-344)."""
    return -PB_W / 2 if orientation == "above" else PB_W / 2


# ---------------------------------------------------------------- geometry
def updated_layout_polygons(first: bool) -> dict[str, list]:
    """The 'updated'-layout overlap-tested polygon set for one face:
    nose + 4 inner + 8 outer attachments (dee_geometry.py:239-277); the
    first face's inner-attachment heights run from r_inner_first=322.
    The outer ring + feedthrough band are handled analytically in
    `_blocked`; the degenerate `make_inner` ring (shell r=300
    with a larger hole) blocks nothing beyond r=302 and is omitted."""
    return {
        "nose": circle_polygon(NOSE_R),
        **updated_inner_attachments(FACE_CONFIGS["face1"][2] if first else NOSE_R),
        **outer_attachments(),
    }


OUTER_64GON = circle_polygon(ETL_OUTER)


def _blocked(x1: str, y1: str, x2: str, y2: str, polys: dict[str, list]):
    """The reference's overlaps(rect, dee_geo) for the rect in columns
    (x1, y1)-(x2, y2), as one Column expression: the outer ring (rect
    not fully inside the r=1185 64-gon — convex-hole containment is
    all-corners-inside), the feedthrough band, or any attachment/nose
    polygon hit."""
    corners = ((x1, y1), (x1, y2), (x2, y1), (x2, y2))
    inside_outer = reduce(
        lambda a, b: a & b, [point_in_polygon(cx, cy, OUTER_64GON) for cx, cy in corners]
    )
    c1, d1, c2, d2 = (F.col(c) for c in (x1, y1, x2, y2))
    feedthrough = (c1 < ETL_OUTER) & (FEEDTHROUGH_X < c2) & (d1 < FEED_Y) & (-FEED_Y < d2)
    hits = rect_overlap_count(x1, y1, x2, y2, list(polys.values())) > 0
    return ~inside_outer | feedthrough | hits


def _annulus_ok(x1, y1, x2, y2, r_in: float, r_out: float):
    """The reference's 8 strict corner conditions (ETL.py:586-593) as a
    codegen Column expression."""
    cond = F.lit(True)
    for cx, cy in ((x1, y1), (x1, y2), (x2, y1), (x2, y2)):
        d2 = cx * cx + cy * cy
        cond = cond & (d2 > r_in * r_in) & (d2 < r_out * r_out)
    return cond


# The slot table feeds MANY downstream branches (the two-pass runs
# split, totals/flavors/boards); memoized behind one lazy persist, the
# polygon-flag stage (interpreted higher-order functions) runs once per
# session and every consumer reads the 841-row-per-face result.
# persist(), NOT localCheckpoint: even a lazy (eager=False) checkpoint
# calls queryExecution.toRdd at build time, which pre-submits the
# plan's broadcast-exchange jobs — breaking the no-jobs-at-construction
# contract (tests/test_lazy_construction.py).
# The face plans below are memoized too: re-building them per call
# would mint fresh expression IDs, which changes the generated code
# TEXT and defeats the Janino compile cache.
def all_face_slots(spark: SparkSession) -> DataFrame:
    """All four faces' slot tables in one cached DataFrame. Two plans
    only: face1 (special r_inner=322 + shorter attachments) and faces
    2-4 together via the face-dim cross join — the per-plan cost here
    is Catalyst/Janino time, not data."""
    from pyspark import StorageLevel

    slots = memo.get(spark, "dee_faces", "slots", lambda: _all_face_slots_plan(spark))
    # a catalog.clearCache() (bench hygiene between queries) drops the
    # registration; re-mark it (persist() runs no job — the next
    # action materializes it once)
    if slots.storageLevel == StorageLevel.NONE:
        slots.persist()
    return slots


def _all_face_slots_plan(spark: SparkSession) -> DataFrame:
    first = config_slots_plan(
        spark,
        faces=[("face1", *FACE_CONFIGS["face1"][:2])],
        r_inner=FACE_CONFIGS["face1"][2],
        polys=updated_layout_polygons(first=True),
    )
    rest = config_slots_plan(
        spark,
        faces=[(f, ori, cen) for f, (ori, cen, _r) in FACE_CONFIGS.items() if f != "face1"],
        r_inner=FACE_CONFIGS["face2"][2],
        polys=updated_layout_polygons(first=False),
    )
    return first.unionByName(rest)


def _face_plan(spark: SparkSession, key: str, build) -> DataFrame:
    """A memoized plan over the slot table. The slot cache is re-marked
    first, so a plan reused after a clearCache reads it again instead
    of recomputing the slots in every branch."""
    all_face_slots(spark)
    return memo.get(spark, "dee_faces", key, build)


def face_slots(spark: SparkSession, face: str) -> DataFrame:
    """One face's 29x29 slot table with the reference availability
    state: (face, iy, ix, xc, yc, state, available)."""
    return all_face_slots(spark).filter(F.col("face") == face)


def config_slots_plan(
    spark: SparkSession,
    *,
    faces: list[tuple[str, str, str]],
    r_inner: float,
    mod_h: float = MOD_H,
    edge_x: float = EDGE_X,
    polys: dict[str, list] | None = None,
    with_maybe: bool = True,
) -> DataFrame:
    """Dee.populate slot grids for an arbitrary configuration — the
    generalized form behind `face_slots`. `faces=[(label, orientation,
    centering), ...]` run in ONE plan as a grid x face-dim cross join
    (the faces differ only in their y origin and module offset), which
    matters because the per-plan cost here is Catalyst/Janino time, not
    data. `polys` is the blocked polygon set; with it the outer ring
    and feedthrough band block too. With `polys=None` (the
    committed-notebook configurations: bare annulus, no blocked
    geometry) the whole pipeline is whole-stage codegen.
    `with_maybe=False` reproduces the OLDER reference machine the
    committed notebook outputs were generated with
    (tools/ref_tiling_golden.py)."""
    n_cols = int(ETL_OUTER / (mod_h + GAP)) + 2
    col_step = mod_h + GAP
    x0 = mod_h / 2 + edge_x

    face_dim = spark.createDataFrame(
        [(label, face_y0(ori, cen), module_dy(ori)) for label, ori, cen in faces],
        "face STRING, y0 DOUBLE, dy DOUBLE",
    )

    # dimension-sized grid: ONE partition => no multi-task scheduling
    # overhead (spreading the flag kernel over 4 tasks measured no
    # faster). A billion-slot grid would drop the coalesce and run the
    # kernel per partition — the plan shape is unchanged.
    grid = (
        spark.range(N_ROWS * n_cols)
        .coalesce(1)
        .select(
            (F.col("id") / n_cols).cast("int").alias("iy"),
            (F.col("id") % n_cols).cast("int").alias("ix"),
        )
        .crossJoin(F.broadcast(face_dim))
        .withColumn("xc", F.lit(x0) + F.col("ix").cast("double") * col_step)
        .withColumn(
            "yc", F.col("y0") + (F.lit(N_ROWS // 2) - F.col("iy")).cast("double") * SM_W
        )
        .withColumn("sx1", F.col("xc") - mod_h / 2)
        .withColumn("sx2", F.col("xc") + mod_h / 2)
        .withColumn("sy1", F.col("yc") - SM_W / 2)
        .withColumn("sy2", F.col("yc") + SM_W / 2)
        .withColumn("my1", F.col("yc") + F.col("dy") - MOD_W / 2)
        .withColumn("my2", F.col("yc") + F.col("dy") + MOD_W / 2)
    )

    def blocked_or_false(x1, y1, x2, y2):
        return F.lit(False) if polys is None else _blocked(x1, y1, x2, y2, polys)

    sm_ok = _annulus_ok(
        F.col("sx1"), F.col("sy1"), F.col("sx2"), F.col("sy2"), r_inner, ETL_OUTER
    ) & ~blocked_or_false("sx1", "sy1", "sx2", "sy2")
    if with_maybe:
        mod_ok = _annulus_ok(
            F.col("sx1"), F.col("my1"), F.col("sx2"), F.col("my2"), r_inner, ETL_OUTER
        ) & ~blocked_or_false("sx1", "my1", "sx2", "my2")
    else:
        mod_ok = F.lit(False)
    return slot_states(
        grid.select(
            "face", "iy", "ix", "xc", "yc", sm_ok.alias("sm_ok"), (mod_ok & ~sm_ok).alias("mod_only")
        )
    )


def slot_states(flags: DataFrame) -> DataFrame:
    """The chain rule above, per slot, in one pass over the flags
    (face, iy, ix, xc, yc, sm_ok, mod_only). A module-only slot ENDS a
    chain when the next slot is not module-only; the chain is one slot
    long when the previous slot is not module-only either, and then it
    qualifies only if that slot is not 'yes'. Chains are disjoint, so
    the first qualifying chain is the one whose end is leftmost: the
    row's maybe sits on the least qualifying chain end."""
    row = W.partitionBy("face", "iy")
    w = row.orderBy("ix")
    ends = flags.withColumn(
        "qualifying_end",
        F.col("mod_only")
        & ~F.lead("mod_only", 1, False).over(w)
        & (F.lag("mod_only", 1, False).over(w) | ~F.lag("sm_ok", 1, False).over(w)),
    )
    maybe_ix = F.min(F.when(F.col("qualifying_end"), F.col("ix"))).over(row)
    state = F.when(F.col("sm_ok"), "yes").when(F.col("ix") == maybe_ix, "maybe").otherwise("no")
    return ends.select("face", "iy", "ix", "xc", "yc", state.alias("state")).withColumn(
        "available", F.col("state") != "no"
    )


def face_runs(spark: SparkSession) -> DataFrame:
    """Runs of the four real faces with the reference's TWO-PASS
    fallback (ETL.py:646-668): tiling.runs_two_pass_from keyed by
    (face, iy), session-memoized."""
    return _face_plan(
        spark,
        "face_runs",
        lambda: runs_two_pass_from(all_face_slots(spark), partition_lookup(spark), ("face", "iy")),
    )


def multi_config_module_totals_no_maybe(
    spark: SparkSession, configs: list[dict]
) -> DataFrame:
    """Module totals for SEVERAL no-maybe configurations in ONE plan —
    (config, n_modules), one row per config.

    config_module_totals builds a full grid->flags->runs->lookup chain
    per configuration, and each chain is its own Janino compile (the
    cost on these dimension-sized tables is compilation, not data:
    four chains measured ~7 s in a warm bench session, ~45 s cold).
    Here every per-config scalar (mod_h, x0, col_step, r_in, r_out,
    grid bounds) becomes a COLUMN of a broadcast config×face dim, so
    all configurations share one grid scan, one window, one groupBy —
    one compile. Restricted to with_maybe=False (all five committed
    notebook pins): no maybe machine, no two-pass fallback, so a run
    is just a maximal island of sm-fits slots.

    Each `configs` entry: {label, faces: [(ori, cen)], mod_h,
    r_inner, r_outer?, edge_x?, flavors?}. Module width / PB / RB
    widths are the shared reference constants (every committed
    notebook varies only the module x-extent and the annulus)."""
    flavor_sets: dict[tuple[int, ...], int] = {}
    dim_rows = []
    max_cells = 0
    for c in configs:
        mod_h = float(c["mod_h"])
        r_in = float(c["r_inner"])
        r_out = float(c.get("r_outer", ETL_OUTER))
        edge_x = float(c.get("edge_x", EDGE_X))
        fl = tuple(sorted(c.get("flavors", DEFAULT_FLAVORS), reverse=True))
        fl_id = flavor_sets.setdefault(fl, len(flavor_sets))
        n_rows = int(2 * r_out / SM_W) + 2
        n_cols = int(r_out / (mod_h + GAP)) + 2
        max_cells = max(max_cells, n_rows * n_cols)
        for ori, cen in c["faces"]:
            dim_rows.append(
                (
                    c["label"], f"{c['label']}:{ori}:{cen}", face_y0(ori, cen),
                    mod_h / 2 + edge_x, mod_h + GAP, mod_h,
                    r_in, r_out, n_rows, n_cols, n_rows // 2, fl_id,
                )
            )
    cfg_dim = spark.createDataFrame(
        dim_rows,
        "config STRING, face STRING, y0 DOUBLE, x0 DOUBLE, col_step DOUBLE,"
        " mod_h DOUBLE, r_in DOUBLE, r_out DOUBLE, n_rows INT, n_cols INT,"
        " iy_center INT, fl INT",
    )
    lookup = None
    for fl, fl_id in flavor_sets.items():
        lk = (
            partition_lookup(spark, fl)
            .select("n", "covered")
            .distinct()
            .withColumn("fl", F.lit(fl_id))
        )
        lookup = lk if lookup is None else lookup.unionByName(lk)
    # shared id range sized to the LARGEST grid; each config decodes
    # its own (iy, ix) from id with its own n_cols and drops ids past
    # its own grid (same dimension-sized single-partition discipline
    # as config_slots_plan)
    slots = (
        spark.range(max_cells)
        .coalesce(1)
        .crossJoin(F.broadcast(cfg_dim))
        .filter(F.col("id") < F.col("n_rows") * F.col("n_cols"))
        .withColumn("iy", (F.col("id") / F.col("n_cols")).cast("int"))
        .withColumn("ix", F.pmod(F.col("id"), F.col("n_cols")).cast("int"))
        .withColumn("xc", F.col("x0") + F.col("ix").cast("double") * F.col("col_step"))
        .withColumn(
            "yc",
            F.col("y0") + (F.col("iy_center") - F.col("iy")).cast("double") * SM_W,
        )
    )
    sm_ok = _annulus_ok(
        F.col("xc") - F.col("mod_h") / 2,
        F.col("yc") - SM_W / 2,
        F.col("xc") + F.col("mod_h") / 2,
        F.col("yc") + SM_W / 2,
        F.col("r_in"),
        F.col("r_out"),
    )
    avail = slots.filter(sm_ok).select(
        "config", "face", "fl", "iy", "ix", F.lit("yes").alias("state")
    )
    runs = (
        _runs_from(avail, ("face", "iy"))
        # face labels are config-unique here, so rejoin the per-face
        # config/flavor ids via the dim
        .join(
            F.broadcast(cfg_dim.select("face", "config", "fl").distinct()), "face"
        )
    )
    totals = (
        runs.join(
            F.broadcast(lookup),
            (runs["fl"] == lookup["fl"]) & (runs["n_slots"] == lookup["n"]),
            "left",
        )
        .groupBy("config")
        .agg(F.sum(F.coalesce("covered", F.lit(0))).cast("bigint").alias("n_modules"))
    )
    # a config whose annulus admits no slot at all still gets its row
    all_configs = cfg_dim.select("config").distinct()
    return (
        all_configs.join(totals, "config", "left")
        .fillna({"n_modules": 0})
        .select("config", "n_modules")
    )


def config_module_totals(
    spark: SparkSession,
    label: str,
    faces: list[tuple[str, str]],
    flavors: tuple[int, ...] = DEFAULT_FLAVORS,
    with_maybe: bool = True,
    **cfg,
) -> DataFrame:
    """Module total for an arbitrary configuration summed over the
    given (orientation, centering) faces — 1 row (config, n_modules),
    with the maybe machine and the two-pass fallback. All faces of a
    config run in ONE plan via the face-dim cross join. No registered
    query uses it: the notebook-pin query runs its no-maybe configs
    through multi_config_module_totals_no_maybe; the flavor-literal pin
    in tests/test_faces_tiling.py checks its maybe config here."""
    slots = config_slots_plan(
        spark,
        faces=[(f"{label}:{i}", ori, cen) for i, (ori, cen) in enumerate(faces)],
        with_maybe=with_maybe,
        **cfg,
    )
    pl = partition_lookup(spark, flavors)
    r = runs_two_pass_from(slots, pl, ("face", "iy"), flavors)
    pl = F.broadcast(pl.select("n", "covered").distinct())
    return (
        r.join(pl, r.n_slots == pl.n, "left")
        .agg(F.sum(F.coalesce("covered", F.lit(0))).cast("bigint").alias("n_modules"))
        .select(F.lit(label).alias("config"), "n_modules")
    )


def face_supermodules(spark: SparkSession) -> DataFrame:
    return _face_plan(spark, "face_supermodules", lambda: _face_supermodules_plan(spark))


def _face_supermodules_plan(spark: SparkSession) -> DataFrame:
    """Placed boards: (face, iy, start_ix, n_slots, ordinal, flavor,
    covered, sm_start). NOTE the reference's own x-placement for the
    2nd+ run of a multi-row is garbage (ETL.py:700 resets start=length,
    not 0); we place each run from its own slots, which matches the
    reference for single-run rows and is what the reference intended."""
    return place_boards(face_runs(spark), partition_lookup(spark), ("face", "iy"))


def face_module_totals(spark: SparkSession) -> DataFrame:
    return _face_plan(spark, "face_module_totals", lambda: _face_module_totals_plan(spark))


def _face_module_totals_plan(spark: SparkSession) -> DataFrame:
    """Per-face totals in the shape the reference prints
    (dee_geometry.py:387-388): modules = covered slots, plus the
    supermodule count."""
    r = face_runs(spark)
    pl = F.broadcast(partition_lookup(spark).select("n", "covered", "n_boards").distinct())
    return (
        r.join(pl, r.n_slots == pl.n, "left")
        .groupBy("face")
        .agg(
            F.sum(F.coalesce("covered", F.lit(0))).cast("bigint").alias("n_modules"),
            F.sum(F.coalesce("n_boards", F.lit(0))).cast("bigint").alias("n_supermodules"),
        )
    )


def face_flavor_counts(spark: SparkSession) -> DataFrame:
    return _face_plan(spark, "face_flavor_counts", lambda: _face_flavor_counts_plan(spark))


def _face_flavor_counts_plan(spark: SparkSession) -> DataFrame:
    """(face, flavor, n_boards) — the per-face RB flavor census behind
    the reference's Small/Medium/Large RB print (dee_geometry.py:392-394,
    which multiplies the quarter-ETL totals by 4)."""
    return (
        face_supermodules(spark)
        .groupBy("face", "flavor")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_boards"))
    )


# =====================================================================
# SuperModule board geometry: RB / PB / VTRX rectangles per placed
# board (reference ETL.py:163-204, 312-357, 364-381, 506-533). Pure
# column arithmetic + explode over the supermodule table — fully
# declarative; the real-geometry variant reads its polygon flags only
# through the upstream (persisted) slot table.
# =====================================================================

PB_H3 = 3 * MOD_H + 2 * GAP  # every PB is 3-module high: split_PB makes
# two such boards for flavors > 5 and the flavor-3 single PB already is
# (ETL.py:511-533)
VTRX_H, VTRX_W = 20.0, 10.0  # ETL.py:196-197
VTRX_DX, VTRX_DY = 32.5, 6.0  # x = RB.x2 - 32.5, y = RB.y + 6 (ETL.py:198-199)


def face_orientation_dim(spark: SparkSession) -> DataFrame:
    """(face, y0, osign): grid-origin y and the orientation sign
    (+1 above: RB sits at -PB_W/2, PB at +RB_W/2; -1 below mirrors —
    ETL.py:352-355)."""
    rows = [
        (face, face_y0(ori, cen), 1.0 if ori == "above" else -1.0)
        for face, (ori, cen, _r) in FACE_CONFIGS.items()
    ]
    return spark.createDataFrame(rows, "face STRING, y0 DOUBLE, osign DOUBLE")


def boards_from_supermodules(sm: DataFrame, face_dim: DataFrame) -> DataFrame:
    """Explode placed supermodules (face, iy, start_ix, flavor,
    sm_start) into their boards: one RB (full SM height), one VTRX
    positioned off the RB's outer-x end, and one or two PBs (split for
    flavors > 5, right-aligned, ETL.py:506-533). Returns
    (face, iy, sm_start, flavor, kind, board_ix, x, y, height, width,
    x1, x2, y1, y2)."""
    j = sm.join(F.broadcast(face_dim), "face")
    sm_h = F.col("flavor") * MOD_H + (F.col("flavor") - 1) * GAP
    sm_x = F.lit(X0) + (F.col("sm_start") + (F.col("flavor") - 1) / 2.0) * COL_STEP
    sm_y = F.col("y0") + (F.lit(N_ROWS // 2) - F.col("iy")).cast("double") * SM_W
    rb_y = sm_y - F.col("osign") * PB_W / 2
    pb_y = sm_y + F.col("osign") * RB_W / 2
    rb_x2 = sm_x + sm_h / 2

    def board(kind, ix, x, y, h, w):
        return F.struct(
            F.lit(kind).alias("kind"),
            F.lit(ix).cast("int").alias("board_ix"),
            x.cast("double").alias("x"),
            y.cast("double").alias("y"),
            h.cast("double").alias("height"),
            w.cast("double").alias("width"),
        )

    # split_PB right-aligned: shifter 0 for flavor 6, +1 otherwise
    shifter = F.when(F.col("flavor") == 6, F.lit(0.0)).otherwise(F.lit(1.0))
    pb_split_hi = sm_x + PB_H3 / 2 + shifter * (MOD_H / 2 + GAP)
    pb_split_lo = sm_x - PB_H3 / 2 + shifter * (MOD_H / 2 + GAP)
    boards = F.when(
        F.col("flavor") > 5,
        F.array(
            board("RB", 0, sm_x, rb_y, sm_h, F.lit(RB_W)),
            board("VTRX", 0, rb_x2 - VTRX_DX, rb_y + VTRX_DY, F.lit(VTRX_H), F.lit(VTRX_W)),
            board("PB", 0, pb_split_hi, pb_y, F.lit(PB_H3), F.lit(PB_W)),
            board("PB", 1, pb_split_lo, pb_y, F.lit(PB_H3), F.lit(PB_W)),
        ),
    ).otherwise(
        F.array(
            board("RB", 0, sm_x, rb_y, sm_h, F.lit(RB_W)),
            board("VTRX", 0, rb_x2 - VTRX_DX, rb_y + VTRX_DY, F.lit(VTRX_H), F.lit(VTRX_W)),
            board("PB", 0, sm_x, pb_y, sm_h, F.lit(PB_W)),
        )
    )
    ex = j.select(
        "face", "iy", "sm_start", "flavor", F.explode(boards).alias("b")
    ).select("face", "iy", "sm_start", "flavor", "b.*")
    return ex.select(
        "*",
        (F.col("x") - F.col("height") / 2).alias("x1"),
        (F.col("x") + F.col("height") / 2).alias("x2"),
        (F.col("y") - F.col("width") / 2).alias("y1"),
        (F.col("y") + F.col("width") / 2).alias("y2"),
    )


def face_boards(spark: SparkSession) -> DataFrame:
    return _face_plan(spark, "face_boards", lambda: _face_boards_plan(spark))


def _face_boards_plan(spark: SparkSession) -> DataFrame:
    """Boards of the real 'updated'/'S' tiling, all four faces."""
    return boards_from_supermodules(face_supermodules(spark), face_orientation_dim(spark))


def boards_rollup(boards: DataFrame) -> DataFrame:
    """Per (face, kind): board count + total area (2 dp — the per-board
    areas are exact decimals; rounding absorbs sum-order drift)."""
    return boards.groupBy("face", "kind").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_boards"),
        F.round(F.sum(F.col("height") * F.col("width")), 2).alias("total_area"),
    )


def boards_sql(sm_cte: str, face_dim_cte: str) -> str:
    """DuckDB twin of boards_from_supermodules over a supermodule CTE
    (face, iy, sm_start, flavor) and a face dim (face, y0, osign)."""
    # every injected literal is ::DOUBLE — DuckDB parses bare decimal
    # literals as DECIMAL, which would diverge the result schema
    return f"""
sm_geom AS (
  SELECT s.face, s.iy, s.sm_start, s.flavor,
         s.flavor * {MOD_H!r}::DOUBLE + (s.flavor - 1) * {GAP!r}::DOUBLE AS sm_h,
         {X0!r}::DOUBLE + (s.sm_start + (s.flavor - 1) / 2.0) * {COL_STEP!r}::DOUBLE AS sm_x,
         d.y0 + ({N_ROWS // 2} - s.iy) * {SM_W!r}::DOUBLE AS sm_y,
         d.osign,
         CASE WHEN s.flavor = 6 THEN 0.0 ELSE 1.0 END AS shifter
  FROM ({sm_cte}) s JOIN ({face_dim_cte}) d USING (face)
),
boards AS (
  SELECT face, iy, sm_start, flavor, 'RB' AS kind, 0 AS board_ix,
         sm_x AS x, sm_y - osign * {PB_W / 2!r}::DOUBLE AS y, sm_h AS height,
         {RB_W!r}::DOUBLE AS width
  FROM sm_geom
  UNION ALL
  SELECT face, iy, sm_start, flavor, 'VTRX', 0,
         sm_x + sm_h / 2 - {VTRX_DX!r}::DOUBLE,
         sm_y - osign * {PB_W / 2!r}::DOUBLE + {VTRX_DY!r}::DOUBLE,
         {VTRX_H!r}::DOUBLE, {VTRX_W!r}::DOUBLE
  FROM sm_geom
  UNION ALL
  SELECT face, iy, sm_start, flavor, 'PB', 0,
         sm_x, sm_y + osign * {RB_W / 2!r}::DOUBLE, sm_h, {PB_W!r}::DOUBLE
  FROM sm_geom WHERE flavor <= 5
  UNION ALL
  SELECT face, iy, sm_start, flavor, 'PB', 0,
         sm_x + {PB_H3 / 2!r}::DOUBLE + shifter * {MOD_H / 2 + GAP!r}::DOUBLE,
         sm_y + osign * {RB_W / 2!r}::DOUBLE, {PB_H3!r}::DOUBLE, {PB_W!r}::DOUBLE
  FROM sm_geom WHERE flavor > 5
  UNION ALL
  SELECT face, iy, sm_start, flavor, 'PB', 1,
         sm_x - {PB_H3 / 2!r}::DOUBLE + shifter * {MOD_H / 2 + GAP!r}::DOUBLE,
         sm_y + osign * {RB_W / 2!r}::DOUBLE, {PB_H3!r}::DOUBLE, {PB_W!r}::DOUBLE
  FROM sm_geom WHERE flavor > 5
)"""
