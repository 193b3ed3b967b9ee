"""Deterministic detector-domain fixtures (FIXTURES.md family A).

Every builder here has TWO faces:

1. a Spark builder (``sensors(spark)``, ``rays(spark, n)``, ...) used by
   the engine pipelines, and
2. a matching ANSI-SQL CTE string (``SENSORS_SQL``, ``rays_sql(n)``, ...)
   runnable by DuckDB, so detector-domain queries are fully
   oracle-checkable (driver contract in ``__spark_entry__.py``).

Determinism strategy: everything is derived from ``range(n)`` with pure
int64 arithmetic and IEEE-754 double products — bit-identical across
engines. The only cross-engine risk is last-ulp drift in transcendental
functions (exp/tan/cos); downstream queries bin and round, which absorbs
it (SURVEY.md §4.2 "seeded determinism").

Reference geometry being modeled (do not copy code — semantics only):
- sensor grid + active-area corners: ETL.py:76-161 (Sensor.setOutline /
  setActiveArea), flattened hot table ETL.py:752-770 (getAllCorners)
- annulus containment filter: ETL.py:586-594 (P18)
- layer z positions: dee_geometry.py:46-52
- MC ray generator: dee_geometry.py:577-585 (uniform eta/phi)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --- geometry constants (reference-shaped, see FIXTURES.md A3/A5) ---
NX, NY = 54, 108                 # sensor grid columns / rows
PITCH_X, PITCH_Y = 43.6, 22.4    # grid pitch, mm
HALF_H, HALF_W = 21.25, 10.8     # sensor half height(x) / half width(y), mm
DEADSPACE = 0.5                  # active-area inset, mm (ETL.py:109-120)
R_INNER, R_OUTER = 315.0, 1185.0  # dee annulus, mm (ETL.py:540)
LAYER_Z_MM = [2998.25, 3005.5, 3020.75, 3028.5]  # dee_geometry.py:46-52
ETA_LO, ETA_HI = 1.659, 3.0      # dee_geometry.py:577-585
PI = math.pi

# integer hash constants for the seeded uniform generators (Knuth / xxhash
# primes; any odd multipliers work — they just need to be identical in both
# engines)
_M1, _C1 = 2654435761, 12345
_M2, _C2 = 2246822519, 54321
_MOD = 1000003


# ---------------------------------------------------------------- layers
def layers(spark: SparkSession) -> DataFrame:
    """4-row layer dimension: (layer INT, z_mm DOUBLE)."""
    return spark.createDataFrame(
        [(i + 1, z) for i, z in enumerate(LAYER_Z_MM)], "layer INT, z_mm DOUBLE"
    )


LAYERS_SQL = (
    "SELECT * FROM (VALUES (1, 2998.25), (2, 3005.5), (3, 3020.75), (4, 3028.5)) "
    "AS layers(layer, z_mm)"
)


# --------------------------------------------------------------- sensors
def sensors(spark: SparkSession) -> DataFrame:
    """The hot corner table: (layer, sensor_id, x, y, ax1, ax2, ay1, ay2).

    A regular NX x NY grid per layer, filtered to the dee annulus by the
    4-corner check (P18, ETL.py:586-594). Active-area corners are the
    outline inset by DEADSPACE (P3/P4, ETL.py:90-120). ~2.4k rows/layer —
    always broadcast in containment joins.
    """
    # One filter and one projection over the id: a withColumn chain
    # re-analyzes the plan at every step, and every acceptance query
    # builds this table.
    rem = F.col("id") % (NX * NY)
    x = ((rem / NY).cast("bigint") - (NX - 1) / 2.0) * PITCH_X
    y = ((rem % NY).cast("bigint") - (NY - 1) / 2.0) * PITCH_Y
    x1, x2, y1, y2 = x - HALF_H, x + HALF_H, y - HALF_W, y + HALF_W
    rmax = F.sqrt(F.greatest(x1 * x1, x2 * x2) + F.greatest(y1 * y1, y2 * y2))
    rmin = F.sqrt(F.least(x1 * x1, x2 * x2) + F.least(y1 * y1, y2 * y2))
    return (
        spark.range(4 * NX * NY)
        .filter((rmax < R_OUTER) & (rmin > R_INNER))
        .select(
            ((F.col("id") / (NX * NY)).cast("int") + 1).alias("layer"),
            F.col("id").alias("sensor_id"),
            x.alias("x"),
            y.alias("y"),
            (x1 + DEADSPACE).alias("ax1"),
            (x2 - DEADSPACE).alias("ax2"),
            (y1 + DEADSPACE).alias("ay1"),
            (y2 - DEADSPACE).alias("ay2"),
        )
    )


# NOTE: decimal literals are wrapped in CAST(... AS DOUBLE) — DuckDB
# parses bare decimal literals as DECIMAL and would propagate decimal
# arithmetic, diverging from Spark's doubles (type AND value).
SENSORS_SQL = f"""
SELECT layer, sensor_id, x, y,
       x1 + CAST({DEADSPACE} AS DOUBLE) AS ax1, x2 - CAST({DEADSPACE} AS DOUBLE) AS ax2,
       y1 + CAST({DEADSPACE} AS DOUBLE) AS ay1, y2 - CAST({DEADSPACE} AS DOUBLE) AS ay2
FROM (
  SELECT layer, sensor_id, x, y,
         x - CAST({HALF_H} AS DOUBLE) AS x1, x + CAST({HALF_H} AS DOUBLE) AS x2,
         y - CAST({HALF_W} AS DOUBLE) AS y1, y + CAST({HALF_W} AS DOUBLE) AS y2
  FROM (
    SELECT CAST(floor(id / ({NX} * {NY})) AS INT) + 1 AS layer,
           id AS sensor_id,
           (CAST(floor((id % ({NX} * {NY})) / {NY}) AS DOUBLE) - CAST({(NX - 1) / 2.0} AS DOUBLE)) * CAST({PITCH_X} AS DOUBLE) AS x,
           (CAST((id % ({NX} * {NY})) % {NY} AS DOUBLE) - CAST({(NY - 1) / 2.0} AS DOUBLE)) * CAST({PITCH_Y} AS DOUBLE) AS y
    FROM (SELECT CAST(range AS BIGINT) AS id FROM range(0, {4 * NX * NY}))
  )
)
WHERE sqrt(greatest(x1*x1, x2*x2) + greatest(y1*y1, y2*y2)) < {R_OUTER}
  AND sqrt(least(x1*x1, x2*x2) + least(y1*y1, y2*y2)) > {R_INNER}
"""


# ------------------------------------------------------------------ rays
def rays(spark: SparkSession, n: int) -> DataFrame:
    """Seeded MC probe rays: (event_id, eta, phi, theta, tanth, cphi, sphi).

    Uniform eta in [1.659, 3.0], phi in [-pi/2, pi/2] via pure-int64
    multiplicative hashing (reproducible across engines, unlike the
    reference's unseeded np.random at dee_geometry.py:583-585).
    theta = 2*atan(exp(-eta)) is the P2 inverse transform (ETL.py:64-74).
    """
    u1 = ((F.col("id") * _M1 + _C1) % _MOD) / _MOD
    u2 = ((F.col("id") * _M2 + _C2) % _MOD) / _MOD
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            (ETA_LO + (ETA_HI - ETA_LO) * u1).alias("eta"),
            (-PI / 2 + PI * u2).alias("phi"),
        )
        .withColumn("theta", 2 * F.atan(F.exp(-F.col("eta"))))
    )
    return df.select(
        "event_id",
        "eta",
        "phi",
        "theta",
        F.tan("theta").alias("tanth"),
        F.cos("phi").alias("cphi"),
        F.sin("phi").alias("sphi"),
    )


def rays_sql(n: int) -> str:
    return f"""
SELECT event_id, eta, phi, theta,
       tan(theta) AS tanth, cos(phi) AS cphi, sin(phi) AS sphi
FROM (
  SELECT event_id, eta, phi, 2 * atan(exp(-eta)) AS theta
  FROM (
    SELECT id AS event_id,
           CAST({ETA_LO} AS DOUBLE) + CAST({ETA_HI - ETA_LO} AS DOUBLE) * (((id * {_M1} + {_C1}) % {_MOD}) / CAST({_MOD} AS DOUBLE)) AS eta,
           -pi() / 2 + pi() * (((id * {_M2} + {_C2}) % {_MOD}) / CAST({_MOD} AS DOUBLE)) AS phi
    FROM (SELECT CAST(range AS BIGINT) AS id FROM range(0, {n}))
  )
)
"""


# ------------------------------------------------- small dimension tables
def mod_partitions(spark: SparkSession) -> DataFrame:
    """Pinned per-row readout-board partitions (bias_voltage.py:75-102):
    (row_ordinal, n_boards, flavors ARRAY<INT>)."""
    rows = [
        (1, 1, [3]),
        (2, 1, [6]),
        (3, 1, [7]),
        (4, 2, [7, 3]),
        (5, 2, [7, 6]),
        (6, 2, [7, 7]),
        (7, 3, [7, 7, 3]),
        (8, 3, [7, 7, 6]),
        (9, 3, [7, 7, 7]),
        (10, 3, [7, 7, 7]),
        (11, 4, [7, 7, 7, 3]),
        (12, 4, [7, 7, 7, 6]),
        (13, 4, [7, 7, 7, 6]),
        (14, 4, [7, 7, 7, 7]),
        (15, 4, [7, 7, 7, 7]),
        (16, 4, [7, 7, 7, 6]),
        (17, 4, [7, 7, 7, 6]),
        (18, 4, [7, 7, 7, 3]),
        (19, 3, [7, 7, 7]),
        (20, 3, [7, 7, 7]),
        (21, 3, [7, 7, 6]),
        (22, 3, [7, 7, 3]),
        (23, 2, [7, 7]),
        (24, 2, [7, 6]),
        (25, 2, [7, 3]),
        (26, 1, [6]),
    ]
    return spark.createDataFrame(
        rows, "row_ordinal INT, n_boards INT, flavors ARRAY<INT>"
    )


MOD_PARTITIONS_SQL = (
    "SELECT * FROM (VALUES "
    "(1,1,[3]),(2,1,[6]),(3,1,[7]),(4,2,[7,3]),(5,2,[7,6]),(6,2,[7,7]),"
    "(7,3,[7,7,3]),(8,3,[7,7,6]),(9,3,[7,7,7]),(10,3,[7,7,7]),"
    "(11,4,[7,7,7,3]),(12,4,[7,7,7,6]),(13,4,[7,7,7,6]),(14,4,[7,7,7,7]),"
    "(15,4,[7,7,7,7]),(16,4,[7,7,7,6]),(17,4,[7,7,7,6]),(18,4,[7,7,7,3]),"
    "(19,3,[7,7,7]),(20,3,[7,7,7]),(21,3,[7,7,6]),(22,3,[7,7,3]),"
    "(23,2,[7,7]),(24,2,[7,6]),(25,2,[7,3]),(26,1,[6])"
    ") AS mod_partitions(row_ordinal, n_boards, flavors)"
)
