"""Detector-study queries built on the stateful-scan operators:
module derivation (A1/A2/P17), greedy BV grouping (W4), totals (A9),
and the occupancy study.

Every query registers with its DuckDB oracle SQL. The greedy scan's
oracle is a recursive-CTE walk of the same ordered scan; golden
invariants live in tests/test_golden_invariants.py (20 mA budget,
module-count preservation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_sh_design_spark import datagen
from etl_sh_design_spark.functions import physics
from etl_sh_design_spark.operators.bv_grouping import (
    bv_totals,
    greedy_bv_groups,
    modules_from_sensors,
)
from etl_sh_design_spark.registry import query


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

# CURVES constants from operators/bv_grouping.py (5 fC rows of
# datagen.bv_curves): FBK w13 5fC (435.93, -2251.2), HPK split4 5fC (526.14, -2792.0).
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


# ----------------------------------------------------- occupancy study
# (reference occupancy.py semantics: P11 occupancy curve, A3 per-module
# means, A10 histogram, A14 weighted bandwidth reduction, P20 threshold)
from etl_sh_design_spark.operators.histogram import BinSpec  # noqa: E402

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
    from etl_sh_design_spark.operators.histogram import histogram1d

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
