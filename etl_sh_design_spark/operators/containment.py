"""Point-in-rectangle containment join — the engine's hot operator
(SURVEY.md §2.3 J1; reference `Dee.intersect` ETL.py:772-776).

The strict predicate exists once, in `containment_predicate`; two
physical joins apply it:

1. `binned_containment_join` — the acceptance family's path and the
   100 TB one: overlay a grid of cell width >= max rectangle extent,
   duplicate each rectangle into every cell it overlaps (<= 4 cells
   when cell >= rect), give points their single cell, then hash-join
   on (extra keys, cell_x, cell_y) + exact predicate. Turns the nested
   loop into an equi-join that scales linearly with both sides
   (SURVEY.md §4.2 item 1).

2. `containment_join` — broadcast join on the extra keys with the
   predicate as post-condition: O(points x rects per key). Only the
   1-event MC sanity re-probe uses it (it needs the LEFT join).

tests/test_plans.py checks that both return the same pairs as a
brute-force strict-`<` scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def containment_predicate(px, py):
    """(ax1 < px < ax2) & (ay1 < py < ay2) — strict, matching the
    reference's `<` comparisons (ETL.py:772-776)."""
    return (
        (F.col("ax1") < px) & (px < F.col("ax2")) & (F.col("ay1") < py) & (py < F.col("ay2"))
    )


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
    broadcast_rects: bool = False,
) -> DataFrame:
    """Scale-out containment join via spatial binning.

    `cell` must be >= the max rectangle extent in x and y so each
    rectangle lands in at most 4 cells. Both sides get (cell_x, cell_y)
    keys; the join is then a plain shuffle/broadcast HASH join on
    (extra_keys..., cell_x, cell_y) with the exact containment predicate
    as a post-filter — Catalyst never sees a pure-inequality join, so no
    nested loop at any scale.

    `broadcast_rects=True` pins a broadcast hint on the exploded rect
    side. Use it when the rect side is DIMENSION-SIZED BY CONTRACT but
    comes from a source with unknown stats (createDataFrame /
    parallelize): Catalyst then plans a sort-merge join and SHUFFLES
    THE POINTS (measured 138 MB vs 19 MB at 1e6 rays on the real-YAML
    layout before this hint existed) — AQE only converts the join
    after the point-side exchange has already materialized. Leave
    False when rects can be big: the shuffle-hash path on (keys,
    cell) IS the scale plan."""
    extra_keys = extra_keys or []

    # rectangles: explode into the 1..4 cells their active area overlaps
    cx_lo = F.floor(F.col("ax1") / cell).cast("bigint")
    cx_hi = F.floor(F.col("ax2") / cell).cast("bigint")
    cy_lo = F.floor(F.col("ay1") / cell).cast("bigint")
    cy_hi = F.floor(F.col("ay2") / cell).cast("bigint")
    r = (
        rects.withColumn("cell_x", F.explode(F.sequence(cx_lo, cx_hi)))
        .withColumn("cell_y", F.explode(F.sequence(cy_lo, cy_hi)))
    )

    p = points.withColumn(
        "cell_x", F.floor(F.col(px) / cell).cast("bigint")
    ).withColumn("cell_y", F.floor(F.col(py) / cell).cast("bigint"))

    keys = extra_keys + ["cell_x", "cell_y"]
    if broadcast_rects:
        r = F.broadcast(r)
    joined = p.join(r, keys, "inner").filter(
        containment_predicate(F.col(px), F.col(py))
    )
    return joined.drop("cell_x", "cell_y")

