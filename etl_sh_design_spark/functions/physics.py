"""Sensor-physics parameterizations (SURVEY.md §2.2 P8-P12).

Pure arithmetic column expressions over a radius column — the Spark
re-expression of `sensors.py` (reference file, semantics only):

- P8  irradiation(r)      sensors.py:38-42
- P9  sensor_current      sensors.py:44-50
- P10 per-sensor current  ETL.py:148-152
- P11 sensor_occupancy    sensors.py:52-57
- P12 BV breakdown curves sensors.py:4-36 (`a*ln(r)+b`; the (a, b)
      pairs the studies use are literals in operators/bv_grouping.py
      and registry_layout.py)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def irradiation(r: str | Column = "r") -> Column:
    """P8: fluence (1e14 neq/cm^2) vs radius (mm). sensors.py:38-42."""
    rc = _c(r)
    return F.lit(-9.053) + 7420.0 / rc + 3.664e-3 * rc


_VOLUME_CM3 = 256 * 0.13 * 0.13 * 0.03  # 256 px of 1.3x1.3 mm^2, 0.03 cm thick


def current_constant(gain: float = 1.0, alpha: float = 4.5e-18) -> float:
    """Folded scalar so Spark and the SQL oracle multiply fluence by the
    IDENTICAL double (multiplication order matters at the last ulp)."""
    return gain * 1e14 * _VOLUME_CM3 * alpha * 1e3


def sensor_current(fluence: str | Column, gain: float = 1.0, alpha: float = 4.5e-18) -> Column:
    """P9: leakage current (mA) vs fluence. sensors.py:44-50 shape.

    Coefficients tuned so a sensor draws ~0.1-1 mA across the annulus
    (reference-scale: ~7-module groups fit a 20 mA budget).
    """
    return _c(fluence) * F.lit(current_constant(gain, alpha))


def sensor_current_at(r: str | Column = "r", safety: float = 1.0, add_current: float = 0.0) -> Column:
    """P10: composed per-sensor current with safety factor + constant
    surface term (ETL.py:148-152)."""
    return F.lit(add_current) + sensor_current(irradiation(r)) * safety


def occupancy(r: str | Column = "r") -> Column:
    """P11: occupancy (%) vs radius (mm). sensors.py:52-57."""
    rc = _c(r)
    return F.lit(0.11) + 91297.0 / (rc * rc)


# SQL fragments for the DuckDB oracle (same expressions, ANSI spelling;
# e-notation literals parse as DOUBLE in DuckDB, bare decimals would not).
IRRADIATION_SQL = "(-9.053e0 + 7420.0e0 / {r} + 3.664e-3 * {r})"
CURRENT_SQL = f"({IRRADIATION_SQL} * {current_constant()!r})"
OCCUPANCY_SQL = "(0.11e0 + 91297.0e0 / ({r} * {r}))"
