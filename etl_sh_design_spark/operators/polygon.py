"""Polygon containment/overlap — the U1 black-box operator
(SURVEY.md §2.10; reference wraps shapely at dee_geometry.py:60-138).

The predicates are vectorized NumPy inside Arrow-batched pandas UDFs:
an even-odd ray cast for point-in-polygon, and for rect-polygon
overlap the one kernel `rect_polygon_hits` (corner-in-polygon +
Liang-Barsky edge-vs-rect) that every overlap UDF here and the
per-face blocked flag (plans/dee_faces.py) call. The polygon table is
dimension-sized closure data; apply the UDFs AFTER the cheap
rectangular pre-filters (Catalyst will not reorder across the UDF
barrier — predicate ordering, SURVEY.md §4.1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _ray_cast(px: np.ndarray, py: np.ndarray, verts: list[tuple[float, float]]) -> np.ndarray:
    """Vectorized even-odd rule point-in-polygon."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        crosses = ((y1 > py) != (y2 > py)) & (
            px < (x2 - x1) * (py - y1) / (y2 - y1 + 1e-300) + x1
        )
        inside ^= crosses
    return inside


def points_in_polygon(
    points: DataFrame,
    vertices: list[tuple[float, float]],
    px: str = "px",
    py: str = "py",
    out: str = "inside",
) -> DataFrame:
    """Tag each point row with polygon membership. The vertex list is
    captured in the UDF closure (tiny, broadcast with the task)."""
    verts = [(float(x), float(y)) for x, y in vertices]

    @F.pandas_udf(T.BooleanType())
    def _inside(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(_ray_cast(xs.values, ys.values, verts))

    return points.withColumn(out, _inside(F.col(px), F.col(py)))


def filter_blocked_polygons(
    slots: DataFrame,
    polygons: dict[str, list[tuple[float, float]]],
    cx: str = "cx",
    cy: str = "cy",
) -> DataFrame:
    """J3 with true polygons: drop slots whose center falls inside any
    blocked polygon. Order matters for performance: apply rectangular
    pre-filters BEFORE this UDF join (Catalyst will not reorder across
    the UDF barrier — SURVEY.md §4.1)."""
    out = slots
    for name, verts in polygons.items():
        out = points_in_polygon(out, verts, cx, cy, out=f"_in_{name}")
    cond = None
    for name in polygons:
        c = F.col(f"_in_{name}")
        cond = c if cond is None else (cond | c)
    out = out.filter(~cond) if cond is not None else out
    return out.drop(*[f"_in_{name}" for name in polygons])


def _segment_intersects_rect(
    x0: float, y0: float, xe: float, ye: float,
    rx1: np.ndarray, ry1: np.ndarray, rx2: np.ndarray, ry2: np.ndarray,
) -> np.ndarray:
    """Vectorized Liang-Barsky: does the fixed segment (x0,y0)-(xe,ye)
    intersect each axis-aligned rect (rx1,ry1,rx2,ry2)? A segment fully
    inside a rect clips to t0=0 <= t1=1, so interior containment counts
    as intersection (which is what an overlap test wants)."""
    dx, dy = xe - x0, ye - y0
    t0 = np.zeros(len(rx1))
    t1 = np.ones(len(rx1))
    ok = np.ones(len(rx1), dtype=bool)
    for p, q in (
        (-dx, x0 - rx1),
        (dx, rx2 - x0),
        (-dy, y0 - ry1),
        (dy, ry2 - y0),
    ):
        if p == 0:
            ok &= q >= 0  # parallel and outside this slab -> reject
        else:
            t = q / p
            if p < 0:
                t0 = np.maximum(t0, t)
            else:
                t1 = np.minimum(t1, t)
    return ok & (t0 <= t1)


def rect_polygon_hits(
    rx1: np.ndarray, ry1: np.ndarray, rx2: np.ndarray, ry2: np.ndarray,
    verts: list[tuple[float, float]],
) -> np.ndarray:
    """Does each axis-aligned rect INTERSECT the polygon — the
    reference's `overlaps(x) or within(x)` predicate (ETL.py:552-553,
    dee_geometry.py:134-138), not just center containment? True iff
    (a) any rect corner is inside the polygon (covers
    rect-within-polygon), or (b) any polygon edge intersects the rect
    (covers polygon-within-rect and all boundary crossings)."""
    hit = np.zeros(len(rx1), dtype=bool)
    for cxs, cys in ((rx1, ry1), (rx1, ry2), (rx2, ry1), (rx2, ry2)):
        hit |= _ray_cast(cxs, cys, verts)
    n = len(verts)
    for i in range(n):
        x0, y0 = verts[i]
        xe, ye = verts[(i + 1) % n]
        hit |= _segment_intersects_rect(x0, y0, xe, ye, rx1, ry1, rx2, ry2)
    return hit


def rects_overlap_polygon(
    rects: DataFrame,
    vertices: list[tuple[float, float]],
    x1: str = "x1",
    y1: str = "y1",
    x2: str = "x2",
    y2: str = "y2",
    out: str = "overlaps",
) -> DataFrame:
    """J3 rect x polygon OVERLAP flag (`rect_polygon_hits`) over the
    Arrow batch; the vertex list rides the UDF closure."""
    verts = [(float(x), float(y)) for x, y in vertices]

    @F.pandas_udf(T.BooleanType())
    def _overlaps(ax: pd.Series, ay: pd.Series, bx: pd.Series, by: pd.Series) -> pd.Series:
        return pd.Series(rect_polygon_hits(ax.values, ay.values, bx.values, by.values, verts))

    return rects.withColumn(out, _overlaps(F.col(x1), F.col(y1), F.col(x2), F.col(y2)))


def rects_overlap_count(
    rects: DataFrame,
    polygons: dict[str, list[tuple[float, float]]],
    x1: str = "x1",
    y1: str = "y1",
    x2: str = "x2",
    y2: str = "y2",
    out: str = "n_overlaps",
) -> DataFrame:
    """How many of the blocked polygons each rect overlaps — the
    whole J3 polygon family in ONE Arrow-batched UDF.

    Chaining `rects_overlap_polygon` once per shape (the pre-round-8
    form of the real-geometry tiling) builds a 15-deep Python-eval
    projection whose plan compile dominated the query (~6 s cold for
    594 rows); looping the shapes INSIDE one vectorized batch does the
    identical arithmetic with one UDF node."""
    polys = [[(float(x), float(y)) for x, y in verts] for verts in polygons.values()]

    @F.pandas_udf(T.IntegerType())
    def _count(ax: pd.Series, ay: pd.Series, bx: pd.Series, by: pd.Series) -> pd.Series:
        n_ovl = np.zeros(len(ax), dtype=np.int32)
        for verts in polys:
            n_ovl += rect_polygon_hits(ax.values, ay.values, bx.values, by.values, verts)
        return pd.Series(n_ovl)

    return rects.withColumn(out, _count(F.col(x1), F.col(y1), F.col(x2), F.col(y2)))


def filter_blocked_polygons_overlap(
    rects: DataFrame,
    polygons: dict[str, list[tuple[float, float]]],
    x1: str = "x1",
    y1: str = "y1",
    x2: str = "x2",
    y2: str = "y2",
) -> DataFrame:
    """J3 strict variant: drop slots whose RECTANGLE overlaps any
    blocked polygon — excludes overlapping-not-containing slots that
    the center-point test wrongly keeps."""
    out = rects
    for name, verts in polygons.items():
        out = rects_overlap_polygon(out, verts, x1, y1, x2, y2, out=f"_ov_{name}")
    cond = None
    for name in polygons:
        c = F.col(f"_ov_{name}")
        cond = c if cond is None else (cond | c)
    out = out.filter(~cond) if cond is not None else out
    return out.drop(*[f"_ov_{name}" for name in polygons])
