"""Tiling-pipeline queries (SURVEY.md §2.10 U4, §3.1 stage 4) — the
whole `tile_dee` chain is declarative, so every stage has a full
DuckDB oracle: slots (U4+P18+J3+W6), runs (W5), supermodule placement
(U2 + window placement), flavor counts (A6)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_sh_design_spark.operators.bv_grouping import (
    BUDGET_MICRO,
    SM_SIZE,
    find_bv_config,
    modules_from_sensors,
)
from etl_sh_design_spark.plans import tiling
from etl_sh_design_spark.registry import query
from etl_sh_design_spark import datagen


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


def _bv_config_search_sql() -> str:
    """W7 oracle: the same mask enumeration as
    bv_grouping.best_consecutive_split, in DuckDB SQL. Feasible because
    (a) SMs hold <= SM_SIZE modules so the whole search space is <= 64
    masks x 7 positions per SM, and (b) currents are quantized to
    integer micro-amps, so budget checks / balance tie-breaks /
    reported sums are exact integers on both engines.
    seg_id(pos) = popcount(mask & ((1 << pos) - 1)) maps each module
    position to its segment under a split mask."""
    from etl_sh_design_spark.functions import physics

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
