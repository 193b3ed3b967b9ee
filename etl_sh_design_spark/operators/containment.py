"""Point-in-rectangle containment — the engine's hot operator
(SURVEY.md §2.3 J1; reference `Dee.intersect` ETL.py:772-776).

The strict predicate exists once, in `containment_predicate`, and the
spatial grid once, in `cell_of` / `cell_rects`: overlay a grid of cell
width >= max rectangle extent, duplicate each rectangle into every cell
it overlaps (<= 4 cells when cell >= rect), and give a point its single
cell. Three physical forms apply them:

1. `contains_point` — a boolean EXISTS subquery column over the
   broadcast, cell-exploded rects, keyed on the outer point's cell.
   Spark plans it as a BroadcastHashJoin ExistenceJoin inside the
   point stage: no candidate rows, no aggregation, no shuffle. The
   acceptance family's path (plans/acceptance.per_ray_hits), for rect
   sides that are dimension-sized by contract.

2. `binned_containment_join` — the pairs themselves, as a hash join on
   (extra keys, cell_x, cell_y) + exact predicate. Turns the nested
   loop into an equi-join that scales linearly with both sides
   (SURVEY.md §4.2 item 1): the shuffle-scale path for rect sides that
   are not broadcast-sized.

3. `containment_join` — broadcast join on the extra keys with the
   predicate as post-condition: O(points x rects per key). Only the
   1-event MC sanity re-probe uses it (it needs the LEFT join).

tests/test_plans.py checks the two joins and the per-ray lookup
against a brute-force strict-`<` scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def containment_predicate(px, py):
    """(ax1 < px < ax2) & (ay1 < py < ay2) — strict, matching the
    reference's `<` comparisons (ETL.py:772-776)."""
    return (
        (F.col("ax1") < px) & (px < F.col("ax2")) & (F.col("ay1") < py) & (py < F.col("ay2"))
    )


def cell_of(p: Column, cell: float) -> Column:
    """The grid cell index of coordinate `p`."""
    return F.floor(p / cell).cast("bigint")


def cell_rects(rects: DataFrame, cell: float) -> DataFrame:
    """`rects` + (cell_x, cell_y), one row per grid cell its active
    area overlaps (1..4 when `cell` >= the rect extent)."""
    return rects.withColumn(
        "cell_x", F.explode(F.sequence(cell_of(F.col("ax1"), cell), cell_of(F.col("ax2"), cell)))
    ).withColumn(
        "cell_y", F.explode(F.sequence(cell_of(F.col("ay1"), cell), cell_of(F.col("ay2"), cell)))
    )


def contains_point(
    cells: DataFrame, cell: float, px: Column, py: Column, on: dict[str, Column] | None = None
) -> Column:
    """EXISTS: some rect of `cells`, a `cell_rects(rects, cell)` table,
    whose column k equals `on[k]` strictly contains the point (px, py).
    (Exploded by the caller, once for several lookups: each DataFrame
    step costs a JVM round trip and a re-analysis.)

    `px`, `py` and the `on` values are expressions over the OUTER
    query's columns; qualify them through an alias of the outer
    DataFrame (`F.col("ray.variant")`) — with an unqualified tag Spark
    4.1 dropped the correlation, and every ray matched every variant's
    rects. The rect side
    is pinned broadcast: it must be dimension-sized (a createDataFrame
    side has no stats, and unpinned it plans a sort-merge join that
    shuffles the points)."""
    px, py = px.outer(), py.outer()
    cond = (
        (F.col("cell_x") == cell_of(px, cell))
        & (F.col("cell_y") == cell_of(py, cell))
        & containment_predicate(px, py)
    )
    for k, v in (on or {}).items():
        cond = (F.col(k) == v.outer()) & cond
    return F.broadcast(cells).where(cond).exists()


def containment_join(
    points: DataFrame,
    rects: DataFrame,
    px: str = "px",
    py: str = "py",
    extra_keys: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Broadcast containment join. `extra_keys` (e.g. ['layer']) become
    equi-join conjuncts, which lets Spark use them as hash keys when it
    can; the inequality predicate applies on top."""
    extra_keys = extra_keys or []
    pred = containment_predicate(F.col(px), F.col(py))
    for k in extra_keys:
        pred = (points[k] == rects[k]) & pred
    return points.join(F.broadcast(rects), pred, how)


def binned_containment_join(
    points: DataFrame,
    rects: DataFrame,
    cell: float,
    px: str = "px",
    py: str = "py",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Scale-out containment join via spatial binning.

    `cell` must be >= the max rectangle extent in x and y so each
    rectangle lands in at most 4 cells. Both sides get (cell_x, cell_y)
    keys; the join is then a plain shuffle/broadcast HASH join on
    (extra_keys..., cell_x, cell_y) with the exact containment predicate
    as a post-filter — Catalyst never sees a pure-inequality join, so no
    nested loop at any scale. The rect side is not pinned: when it can
    be big, the shuffle-hash path on (keys, cell) IS the scale plan."""
    extra_keys = extra_keys or []
    p = points.withColumn("cell_x", cell_of(F.col(px), cell)).withColumn(
        "cell_y", cell_of(F.col(py), cell)
    )
    joined = p.join(cell_rects(rects, cell), extra_keys + ["cell_x", "cell_y"], "inner").filter(
        containment_predicate(F.col(px), F.col(py))
    )
    return joined.drop("cell_x", "cell_y")
