"""Polygon containment/overlap — the U1 black-box operator
(SURVEY.md §2.10; reference wraps shapely at dee_geometry.py:60-138).

Both predicates are Column expressions, so they stay inside Catalyst
with no Python worker: polygons are small driver-side vertex lists,
their edges enter the plan as one literal array of structs, and the
tests are higher-order functions over that array — an even-odd ray
cast (`aggregate`) for point-in-polygon and, for rect-polygon overlap,
the corner ray casts plus a Liang-Barsky edge-vs-rect test (`exists`).

Each predicate is ONE SQL expression over ONE `from_json` literal, and
a polygon set is one more array level, not one more expression: built
from Column operators the kernel costs a JVM round trip per operator,
and every plan on top of the flags re-analyzes their expression tree,
so a tree that grew with the polygon count cost seconds per downstream
query. Higher-order functions evaluate interpreted, so a closed-bbox
guard skips the edge loops for every rect that cannot touch a polygon.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F

_EDGE = "struct<x0:double,y0:double,ye:double,dx:double,dy:double>"
_POLYGON = f"struct<bx1:double,bx2:double,by1:double,by2:double,edges:array<{_EDGE}>>"


def _edges(verts: list[tuple[float, float]]) -> list[dict]:
    """The polygon's closed edge ring as (x0, y0, ye, dx, dy) records."""
    ring = [(float(x), float(y)) for x, y in verts]
    return [
        {"x0": x0, "y0": y0, "ye": ye, "dx": xe - x0, "dy": ye - y0}
        for (x0, y0), (xe, ye) in zip(ring, ring[1:] + ring[:1])
    ]


def _literal(value: list, sql_type: str) -> str:
    """`value` as a SQL literal of `sql_type`: JSON carries the doubles
    exactly (repr round-trips) and folds to a constant."""
    return f"from_json('{json.dumps(value)}', '{sql_type}')"


def _ray_cast_sql(px: str, py: str, edges: str) -> str:
    """Each edge whose y-span straddles py and whose crossing lies
    right of px flips the parity (a straddling edge has dy != 0, and
    CASE evaluates the division only then)."""
    return (
        f"aggregate({edges}, false, (inside, e) -> inside != CASE WHEN (e.y0 > {py}) != (e.ye > {py})"
        f" THEN {px} < e.dx * ({py} - e.y0) / e.dy + e.x0 ELSE false END)"
    )


def point_in_polygon(px: str, py: str, verts: list[tuple[float, float]]) -> Column:
    """Even-odd ray cast: does the point in columns (px, py) lie inside
    the polygon?"""
    return F.expr(_ray_cast_sql(f"`{px}`", f"`{py}`", _literal(_edges(verts), f"array<{_EDGE}>")))


def rect_overlap_count(
    x1: str, y1: str, x2: str, y2: str, polys: list[list[tuple[float, float]]]
) -> Column:
    """How many of `polys` the axis-aligned rect in columns
    (x1, y1)-(x2, y2) INTERSECTS — the reference's `overlaps(x) or
    within(x)` predicate (ETL.py:552-553, dee_geometry.py:134-138),
    not just center containment. A rect meets a polygon iff (a) a rect
    corner is inside it (covers rect-within-polygon), or (b) one of its
    edges meets the rect (covers polygon-within-rect and all boundary
    crossings), tested by Liang-Barsky clipping: a segment fully
    inside the rect clips to t0 = 0 <= t1 = 1, so interior containment
    counts."""
    x1, y1, x2, y2 = (f"`{c}`" for c in (x1, y1, x2, y2))
    shapes = [
        {
            "bx1": min(float(x) for x, _ in v),
            "bx2": max(float(x) for x, _ in v),
            "by1": min(float(y) for _, y in v),
            "by2": max(float(y) for _, y in v),
            "edges": _edges(v),
        }
        for v in polys
    ]
    touches_bbox = f"{x1} <= poly.bx2 AND poly.bx1 <= {x2} AND {y1} <= poly.by2 AND poly.by1 <= {y2}"
    corner_inside = " OR ".join(
        _ray_cast_sql(cx, cy, "poly.edges") for cx, cy in ((x1, y1), (x1, y2), (x2, y1), (x2, y2))
    )
    # (p, q) per slab: the edge enters where p < 0, leaves where p > 0
    slabs = (
        ("-e.dx", f"e.x0 - {x1}"),
        ("e.dx", f"{x2} - e.x0"),
        ("-e.dy", f"e.y0 - {y1}"),
        ("e.dy", f"{y2} - e.y0"),
    )
    t0 = ", ".join(f"CASE WHEN {p} < 0 THEN ({q}) / ({p}) END" for p, q in slabs)
    t1 = ", ".join(f"CASE WHEN {p} > 0 THEN ({q}) / ({p}) END" for p, q in slabs)
    # an edge parallel to a slab and outside it misses the rect
    parallel_ok = " AND ".join(f"({p} != 0 OR {q} >= 0)" for p, q in slabs)
    crosses = f"{parallel_ok} AND greatest(0D, {t0}) <= least(1D, {t1})"
    hit = f"({touches_bbox}) AND ({corner_inside} OR exists(poly.edges, e -> {crosses}))"
    return F.expr(f"size(filter({_literal(shapes, f'array<{_POLYGON}>')}, poly -> {hit}))")
