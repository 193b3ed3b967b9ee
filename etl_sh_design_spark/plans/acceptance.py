"""Monte-Carlo geometric acceptance (SURVEY.md §3.1 stages 8-9;
reference dee_geometry.py:570-700) and its variants: the real YAML
layouts, several detector variants per ray, and the run comparison
(registry_detector.q_run_comparison).

Every Spark query of the family is a composition of two pieces, over
one scan of the rays:

    rays (tags…, event_id, eta, tanth, cphi, sphi)
        │ cells = rects of ALL layers, each exploded into the packed
        │         keys cell_key(layer, cell_x, cell_y) of its grid
        │         cells: one table, one broadcast
        │ per layer L: P14 point p_L,
        │ hit_L = EXISTS cells
        │         WHERE cell = cell_key(L, floor(p_L / CELL_MM))
        │           [AND rect tag = ray tag] AND containment
        ▼
    `per_ray_hits`: (tags…, event_id, eta, n = Σ hit_L), every ray,
    misses included (n = 0)                                  # J1 + J2
        ▼
    `profile` / `hit_histogram`: one groupBy per (tags…, eta_bin) or
    (tags…, n)                                       # A10-A12, J7, P13

Spark plans each EXISTS as a BroadcastHashJoin ExistenceJoin on the one
bigint cell key inside the ray stage; the four lookups probe the same
broadcast (one BroadcastExchange, three ReusedExchanges). No candidate
row, per-event aggregate or join back to the rays exists, and the only
shuffle is the bins-sized aggregation. The DuckDB `*_sql` builders are
the reference implementation (layers cross join, containment join,
count(DISTINCT layer), per-ray LEFT JOIN); both shapes round to the
same values.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_sh_design_spark import datagen
from etl_sh_design_spark.functions.transforms import project_to_layer, time_resolution
from etl_sh_design_spark.operators.containment import (
    cell_rects,
    containment_join,
    contains_point,
)
from etl_sh_design_spark.operators.histogram import BinSpec

ETA_BINS = BinSpec(20, datagen.ETA_LO, datagen.ETA_HI)
T_COEFF = 45.0  # ps; dee_geometry.py:608
# Containment grid cell: >= the largest active-area extent (42.5 mm on
# the synthetic grid, 41.5 mm on the real layouts), so each sensor rect
# spans at most 2 cells per axis.
CELL_MM = 50.0


def project(spark: SparkSession, rays: DataFrame) -> DataFrame:
    """P14: every ray onto every layer plane ->
    (event_id, eta, layer, px, py)."""
    px, py = project_to_layer()
    return rays.crossJoin(F.broadcast(datagen.layers(spark))).select(
        "event_id", "eta", "layer", px.alias("px"), py.alias("py")
    )


def per_ray_hits(rays: DataFrame, rects: DataFrame, tags=()) -> DataFrame:
    """(tags…, event_id, eta, n) for EVERY ray; n = #layers whose
    sensor active area contains the ray's P14 point (0..4).

    A tag is a column of `rays` (e.g. `run`). A tag that `rects` also
    carries (e.g. `variant` of a tagged corner union) correlates the
    lookup: a ray only sees the rects of its own tag value. `rays`
    must not end in a Union — Spark 4.1's PushProjectionThroughUnion
    fails on the EXISTS projection — so look up each branch and union
    the results."""
    ray = rays.alias("ray")
    shared = [t for t in tags if t in rects.columns]
    cells = cell_rects(
        rects.select(
            *[F.col(t).alias(f"rect_{t}") for t in shared], "layer", "ax1", "ax2", "ay1", "ay2"
        ),
        CELL_MM,
        layer="layer",
    )
    on = {f"rect_{t}": F.col(f"ray.{t}") for t in shared}
    hits = [
        contains_point(cells, CELL_MM, *project_to_layer(F.lit(z)), layer, on).cast("int")
        for layer, z in enumerate(datagen.LAYER_Z_MM, 1)
    ]
    return ray.select(*tags, "event_id", "eta", reduce(add, hits).alias("n"))


def profile(per_ray: DataFrame, bins: BinSpec, tags=()) -> DataFrame:
    """(tags…, eta_bin, n_rays, eff, mean_n, mean_t) over a
    `per_ray_hits` table:

        eff    = mean of [n > 0]
        mean_n = mean of n                (misses contribute 0)
        mean_t = mean of 45/sqrt(n)       (misses excluded)

    Rounded to 6 digits to absorb float-order drift in the sums."""
    n = F.col("n")
    return per_ray.groupBy(*tags, bins.bin_of("eta").alias("eta_bin")).agg(
        F.count(F.lit(1)).alias("n_rays"),
        F.round(F.avg((n > 0).cast("double")), 6).alias("eff"),
        F.round(F.avg(n), 6).alias("mean_n"),
        F.round(F.avg(time_resolution(n, T_COEFF)), 6).alias("mean_t"),
    )


def hit_histogram(per_ray: DataFrame, tags=()) -> DataFrame:
    """(tags…, n, cnt): Hist1D(nHits, "5,-0.5,4.5") over a
    `per_ray_hits` table; a per-ray GROUP BY n, so no empty bins."""
    return per_ray.groupBy(*tags, F.col("n").cast("bigint").alias("n")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def acceptance_profile(spark: SparkSession, n_rays: int) -> DataFrame:
    """Flagship result: efficiency + mean hit count + mean time
    resolution per eta bin."""
    return profile(per_ray_hits(datagen.rays(spark, n_rays), datagen.sensors(spark)), ETA_BINS)


def mc_sanity_probe(spark: SparkSession, n_rays: int, min_hits: int = 3) -> DataFrame:
    """MC sanity re-probe (reference dee_geometry.py:712-810): take the
    FIRST ray with n >= min_hits hits (the reference picks the first
    v.n>2 vector), re-project it onto every layer, and re-count the
    sensors whose active area contains each projected point — the
    debugging query that confirms high-multiplicity events are real
    geometry, not bookkeeping.

    One row per layer: (event_id, layer, px, py, n_sensors, hit).
    The probe id is a 1-row broadcast; the re-count is the broadcast
    predicate join over the SAME containment predicate as the flagship
    per-ray lookup, so a bookkeeping bug would show as hit=true on a
    layer with n_sensors=0 (or vice versa)."""
    rays = datagen.rays(spark, n_rays)
    probe_id = (
        per_ray_hits(rays, datagen.sensors(spark))
        .filter(F.col("n") >= min_hits)
        .agg(F.min("event_id").alias("event_id"))
    )
    proj = project(spark, rays.join(F.broadcast(probe_id), "event_id"))
    probed = containment_join(proj, datagen.sensors(spark), extra_keys=["layer"], how="left")
    return (
        probed.groupBy("event_id", proj["layer"], "px", "py")
        .agg(F.count("sensor_id").alias("n_sensors"))
        .select(
            "event_id",
            "layer",
            F.round("px", 6).alias("px"),
            F.round("py", 6).alias("py"),
            "n_sensors",
            (F.col("n_sensors") > 0).alias("hit"),
        )
    )


def mc_sanity_probe_sql(n_rays: int, min_hits: int = 3) -> str:
    return (
        _hits_cte(n_rays)
        + f""",
probe AS (SELECT min(event_id) AS event_id FROM per_ray WHERE n >= {min_hits}),
probe_proj AS (
  SELECT p.event_id, p.layer, p.px, p.py
  FROM proj p JOIN probe USING (event_id)
)
SELECT pp.event_id, pp.layer,
       round(pp.px, 6) AS px, round(pp.py, 6) AS py,
       count(s.sensor_id) AS n_sensors,
       count(s.sensor_id) > 0 AS hit
FROM probe_proj pp
LEFT JOIN sensors s
  ON s.layer = pp.layer
 AND s.ax1 < pp.px AND pp.px < s.ax2
 AND s.ay1 < pp.py AND pp.py < s.ay2
GROUP BY 1, 2, pp.px, pp.py
"""
    )


def hit_count_histogram(spark: SparkSession, n_rays: int) -> DataFrame:
    """A10 on the MC result: histogram of n (0..4) — the reference's
    `Hist1D(nHits, "5,-0.5,4.5")` (example.ipynb cell 19)."""
    return hit_histogram(per_ray_hits(datagen.rays(spark, n_rays), datagen.sensors(spark)))


# =====================================================================
# Real-layout acceptance: the reference's signature study run over its
# OWN exported YAML layout database (geometric_acceptance.ipynb cells
# 43-72), not the synthetic sensor grid. Same MC rays, same P14
# projection, same per-ray lookup — only the sensor corner table comes
# from the real data.
# =====================================================================

# Sensor(42.5, 22) with deadspace 0.5 is the sensor every fromCenters
# layout uses (geometric_acceptance.ipynb cells 45/51; ETL.py:76-120):
# active-area half-extents = half-size minus deadspace.
REAL_ACTIVE_HALF_X = 42.5 / 2 - 0.5  # 20.75 mm
REAL_ACTIVE_HALF_Y = 22.0 / 2 - 0.5  # 10.5 mm
# The study bins eta as "40,1.659,2.950" (cell 63); rays outside the
# binned range are excluded from the profile on both engines.
REAL_ETA_BINS = BinSpec(40, datagen.ETA_LO, 2.950)
# (disk, face) -> layer in D1-D4 construction order (cells 45/51:
# disk1/front, disk1/back, disk2/front, disk2/back at the z positions
# of datagen.LAYER_Z_MM / dee_geometry.py:46-52).
REAL_FACE_LAYERS = [
    ("disk1", "front", 1),
    ("disk1", "back", 2),
    ("disk2", "front", 3),
    ("disk2", "back", 4),
]


def real_layout_sensor_rows(yaml_path: str, layout: str) -> list[tuple]:
    """(layer, x, y) tuples for every sensor center of `layout` in the
    YAML database, in D1-D4 face order. Driver-side and memoized (the
    layout database is dimension-sized by contract)."""
    from etl_sh_design_spark.sources.io import load_yaml_layout_rows

    by_face = {(d, f): lyr for d, f, lyr in REAL_FACE_LAYERS}
    out = []
    for lo, disk, face, x, y in load_yaml_layout_rows(yaml_path):
        if lo == layout and (disk, face) in by_face:
            out.append((by_face[(disk, face)], x, y))
    return out


def real_layout_sensors(
    spark: SparkSession, yaml_path: str, layout: str = "new"
) -> DataFrame:
    """The hot corner table (layer, x, y, ax1, ax2, ay1, ay2) derived
    from the REAL layout database via the P3/P4 inset — same schema the
    synthetic `datagen.sensors` feeds the containment join."""
    centers = spark.createDataFrame(
        real_layout_sensor_rows(yaml_path, layout), "layer INT, x DOUBLE, y DOUBLE"
    )
    return centers.select(
        "layer",
        "x",
        "y",
        (F.col("x") - REAL_ACTIVE_HALF_X).alias("ax1"),
        (F.col("x") + REAL_ACTIVE_HALF_X).alias("ax2"),
        (F.col("y") - REAL_ACTIVE_HALF_Y).alias("ay1"),
        (F.col("y") + REAL_ACTIVE_HALF_Y).alias("ay2"),
    )


def real_rays(spark: SparkSession, n_rays: int) -> DataFrame:
    """The MC rays inside the real-layout study's eta window."""
    return datagen.rays(spark, n_rays).filter(F.col("eta") < F.lit(REAL_ETA_BINS.hi))


def real_hit_count_histogram(
    spark: SparkSession, n_rays: int, yaml_path: str, layout: str = "new"
) -> DataFrame:
    """Hist1D(nHits) over a REAL layout — the stored-output twin of
    geometric_acceptance.ipynb cell 62 (`Hist1D(nHits['TDR'],
    "5,-0.5,4.5")`)."""
    sensors = real_layout_sensors(spark, yaml_path, layout)
    return hit_histogram(per_ray_hits(real_rays(spark, n_rays), sensors))


def real_acceptance_profile(
    spark: SparkSession, n_rays: int, yaml_path: str, layout: str = "new"
) -> DataFrame:
    """Efficiency + mean hit count + mean time resolution per eta bin
    over the REAL exported layout: the flagship plan with the real
    corner table, the study's eta window and its bin spec."""
    sensors = real_layout_sensors(spark, yaml_path, layout)
    return profile(per_ray_hits(real_rays(spark, n_rays), sensors), REAL_ETA_BINS)


def _real_hits_cte(n_rays: int, yaml_path: str, layout: str) -> str:
    """Shared CTE prefix for the real-layout oracles: the real centers
    are flattened driver-side into a VALUES CTE (DuckDB has no YAML
    reader); corners are derived with the SAME literal arithmetic so
    the doubles are bit-identical."""
    rows = real_layout_sensor_rows(yaml_path, layout)
    values = ",".join(f"({lyr},{x!r},{y!r})" for lyr, x, y in rows)
    return f"""
WITH layers AS ({datagen.LAYERS_SQL}),
sensors AS (
  SELECT layer,
         x - {REAL_ACTIVE_HALF_X!r} AS ax1, x + {REAL_ACTIVE_HALF_X!r} AS ax2,
         y - {REAL_ACTIVE_HALF_Y!r} AS ay1, y + {REAL_ACTIVE_HALF_Y!r} AS ay2
  FROM (VALUES {values}) AS c(layer, x, y)
),
rays AS (SELECT * FROM ({datagen.rays_sql(n_rays)}) WHERE eta < {REAL_ETA_BINS.hi!r}),
proj AS (
  SELECT r.event_id, l.layer,
         l.z_mm * r.tanth * r.cphi AS px,
         l.z_mm * r.tanth * r.sphi AS py
  FROM rays r CROSS JOIN layers l
),
hits AS (
  SELECT p.event_id, count(DISTINCT p.layer) AS n
  FROM proj p
  JOIN sensors s
    ON s.layer = p.layer
   AND s.ax1 < p.px AND p.px < s.ax2
   AND s.ay1 < p.py AND p.py < s.ay2
  GROUP BY p.event_id
),
per_ray AS (
  SELECT r.event_id, r.eta, coalesce(h.n, 0) AS n
  FROM rays r LEFT JOIN hits h USING (event_id)
)
"""


def real_acceptance_profile_sql(
    n_rays: int, yaml_path: str, layout: str = "new"
) -> str:
    b = REAL_ETA_BINS
    return (
        _real_hits_cte(n_rays, yaml_path, layout)
        + f"""
SELECT {b.bin_sql('eta')} AS eta_bin,
       count(*) AS n_rays,
       round(avg(CASE WHEN n > 0 THEN 1.0 ELSE 0.0 END), 6) AS eff,
       round(avg(CAST(n AS DOUBLE)), 6) AS mean_n,
       round(avg(CASE WHEN n > 0 THEN {T_COEFF} / sqrt(n) END), 6) AS mean_t
FROM per_ray
GROUP BY 1
"""
    )


def real_hit_count_histogram_sql(
    n_rays: int, yaml_path: str, layout: str = "new"
) -> str:
    return (
        _real_hits_cte(n_rays, yaml_path, layout)
        + "SELECT CAST(n AS BIGINT) AS n, count(*) AS cnt FROM per_ray GROUP BY 1"
    )


# =====================================================================
# ONE-PASS multi-variant acceptance: geometric_acceptance.ipynb cell 60
# probes 4 detector variants PER RAY in a single pass. The rays are
# crossed with the variant dimension and looked up in a variant-TAGGED
# union of corner tables, correlated on the variant (`variant_per_ray`),
# so the ray generator is still scanned once. The registry memoizes
# that per-ray table once per session for both queries
# (registry_detector.mv_per_hit).
# =====================================================================


def variant_corners(variants: dict[str, DataFrame]) -> DataFrame:
    """(variant, layer, ax1, ax2, ay1, ay2): the tagged union of the
    variants' corner tables."""
    return reduce(
        DataFrame.unionByName,
        [
            corners.select(F.lit(name).alias("variant"), "layer", "ax1", "ax2", "ay1", "ay2")
            for name, corners in variants.items()
        ],
    )


def variant_per_ray(
    spark: SparkSession, n_rays: int, variants: dict[str, DataFrame]
) -> DataFrame:
    """(variant, event_id, eta, n): the study rays once per variant,
    each counted against its own variant's corner table."""
    vdim = spark.createDataFrame([(v,) for v in variants], "variant STRING")
    rays = real_rays(spark, n_rays).crossJoin(F.broadcast(vdim))
    return per_ray_hits(rays, variant_corners(variants), ["variant"])


def multi_variant_acceptance(per_ray: DataFrame) -> DataFrame:
    """(variant, eta_bin, n_rays, eff, mean_n, mean_t) for every
    variant of a `variant_per_ray` table."""
    return profile(per_ray, REAL_ETA_BINS, ["variant"])


def multi_variant_acceptance_sql(
    n_rays: int, variant_corner_sql: dict[str, str]
) -> str:
    """DuckDB twin: each variant contributes a corner SELECT (layer,
    ax1, ax2, ay1, ay2); the union is tagged identically."""
    union = " UNION ALL ".join(
        f"SELECT '{name}' AS variant, * FROM ({sql})"
        for name, sql in variant_corner_sql.items()
    )
    b = REAL_ETA_BINS
    return f"""
WITH layers AS ({datagen.LAYERS_SQL}),
corners AS ({union}),
rays AS (SELECT * FROM ({datagen.rays_sql(n_rays)}) WHERE eta < {b.hi!r}),
proj AS (
  SELECT r.event_id, r.eta, l.layer,
         l.z_mm * r.tanth * r.cphi AS px,
         l.z_mm * r.tanth * r.sphi AS py
  FROM rays r CROSS JOIN layers l
),
per_hit AS (
  SELECT c.variant, p.event_id, first(p.eta) AS eta,
         count(DISTINCT p.layer) AS n
  FROM proj p
  JOIN corners c
    ON c.layer = p.layer
   AND c.ax1 < p.px AND p.px < c.ax2
   AND c.ay1 < p.py AND p.py < c.ay2
  GROUP BY 1, 2
),
bin_tot AS (
  SELECT {b.bin_sql('eta')} AS eta_bin, count(*) AS n_rays
  FROM rays GROUP BY 1
),
vdim AS (SELECT DISTINCT variant FROM corners),
hit_agg AS (
  SELECT variant, {b.bin_sql('eta')} AS eta_bin,
         count(*) AS n_hit, sum(n) AS sum_n,
         sum({T_COEFF} / sqrt(n)) AS sum_t
  FROM per_hit GROUP BY 1, 2
)
SELECT v.variant, t.eta_bin, t.n_rays,
       round(coalesce(h.n_hit, 0) / CAST(t.n_rays AS DOUBLE), 6) AS eff,
       round(coalesce(h.sum_n, 0) / CAST(t.n_rays AS DOUBLE), 6) AS mean_n,
       round(h.sum_t / h.n_hit, 6) AS mean_t
FROM bin_tot t CROSS JOIN vdim v
LEFT JOIN hit_agg h ON h.variant = v.variant AND h.eta_bin = t.eta_bin
"""


def multi_variant_hit_histogram(per_ray: DataFrame) -> DataFrame:
    """Per-(variant, n) hit-count histogram + per-variant mean from
    the same `variant_per_ray` table as `multi_variant_acceptance`
    (geometric_acceptance.ipynb cells 62-66: `Hist1D(nHits[v],
    "5,-0.5,4.5")` per variant and the printed histogram means)."""
    hist = hit_histogram(per_ray, ["variant"])
    w = Window.partitionBy("variant")
    mean_n = F.sum(F.col("n") * F.col("cnt")).over(w) / F.sum("cnt").over(w)
    return hist.select("variant", "n", "cnt", F.round(mean_n, 6).alias("mean_n"))


def multi_variant_hit_histogram_sql(
    n_rays: int, variant_corner_sql: dict[str, str]
) -> str:
    """DuckDB twin of `multi_variant_hit_histogram` — same tagged
    corner union; it rebuilds the n = 0 bin from the ray total."""
    union = " UNION ALL ".join(
        f"SELECT '{name}' AS variant, * FROM ({sql})"
        for name, sql in variant_corner_sql.items()
    )
    b = REAL_ETA_BINS
    return f"""
WITH layers AS ({datagen.LAYERS_SQL}),
corners AS ({union}),
rays AS (SELECT * FROM ({datagen.rays_sql(n_rays)}) WHERE eta < {b.hi!r}),
total AS (SELECT count(*) AS n_total FROM rays),
proj AS (
  SELECT r.event_id, l.layer,
         l.z_mm * r.tanth * r.cphi AS px,
         l.z_mm * r.tanth * r.sphi AS py
  FROM rays r CROSS JOIN layers l
),
per_hit AS (
  SELECT c.variant, p.event_id, count(DISTINCT p.layer) AS n
  FROM proj p
  JOIN corners c
    ON c.layer = p.layer
   AND c.ax1 < p.px AND p.px < c.ax2
   AND c.ay1 < p.py AND p.py < c.ay2
  GROUP BY 1, 2
),
pos AS (
  SELECT variant, CAST(n AS BIGINT) AS n, count(*) AS cnt
  FROM per_hit GROUP BY 1, 2
),
vdim AS (SELECT DISTINCT variant FROM corners),
sums AS (
  -- CAST: DuckDB widens sum() to HUGEINT, which would diverge the
  -- driver's dtype-class compare from Spark's BIGINT
  SELECT variant, CAST(sum(cnt) AS BIGINT) AS n_hit,
         CAST(sum(n * cnt) AS BIGINT) AS sum_n
  FROM pos GROUP BY 1
),
per_variant AS (
  SELECT v.variant, t.n_total,
         coalesce(s.n_hit, 0) AS n_hit,
         round(coalesce(s.sum_n, 0) / CAST(t.n_total AS DOUBLE), 6) AS mean_n
  FROM vdim v CROSS JOIN total t
  LEFT JOIN sums s ON s.variant = v.variant
),
hist AS (
  SELECT variant, n, cnt FROM pos
  UNION ALL
  SELECT variant, CAST(0 AS BIGINT) AS n,
         CAST(n_total - n_hit AS BIGINT) AS cnt
  FROM per_variant
)
SELECT h.variant, h.n, h.cnt, p.mean_n
FROM hist h JOIN per_variant p ON h.variant = p.variant
"""


# ------------------------------------------------------------- oracle SQL
def _hits_cte(n_rays: int) -> str:
    return f"""
WITH layers AS ({datagen.LAYERS_SQL}),
sensors AS ({datagen.SENSORS_SQL}),
rays AS ({datagen.rays_sql(n_rays)}),
proj AS (
  SELECT r.event_id, l.layer,
         l.z_mm * r.tanth * r.cphi AS px,
         l.z_mm * r.tanth * r.sphi AS py
  FROM rays r CROSS JOIN layers l
),
hits AS (
  SELECT p.event_id, count(DISTINCT p.layer) AS n
  FROM proj p
  JOIN sensors s
    ON s.layer = p.layer
   AND s.ax1 < p.px AND p.px < s.ax2
   AND s.ay1 < p.py AND p.py < s.ay2
  GROUP BY p.event_id
),
per_ray AS (
  SELECT r.event_id, r.eta, coalesce(h.n, 0) AS n
  FROM rays r LEFT JOIN hits h USING (event_id)
)
"""


def acceptance_profile_sql(n_rays: int) -> str:
    b = ETA_BINS
    return (
        _hits_cte(n_rays)
        + f"""
SELECT {b.bin_sql('eta')} AS eta_bin,
       count(*) AS n_rays,
       round(avg(CASE WHEN n > 0 THEN 1.0 ELSE 0.0 END), 6) AS eff,
       round(avg(CAST(n AS DOUBLE)), 6) AS mean_n,
       round(avg(CASE WHEN n > 0 THEN {T_COEFF} / sqrt(n) END), 6) AS mean_t
FROM per_ray
GROUP BY 1
"""
    )


def hit_count_histogram_sql(n_rays: int) -> str:
    return (
        _hits_cte(n_rays)
        + "SELECT CAST(n AS BIGINT) AS n, count(*) AS cnt FROM per_ray GROUP BY 1"
    )
