"""Point-in-rectangle containment — the engine's hot operator
(SURVEY.md §2.3 J1; reference `Dee.intersect` ETL.py:772-776).

The strict predicate exists once, in `containment_predicate`, and the
spatial grid once, in `cell_of` / `cell_key` / `cell_rects`: overlay a
grid of cell width >= max rectangle extent, duplicate each rectangle
into every cell it overlaps (<= 4 cells when cell >= rect), and give a
point its single cell. A cell is one bigint hash key that packs
(layer, cell_x, cell_y) into fixed-width fields, so a hash join on it
is a single-long-key join (Spark's LongHashedRelation, no UnsafeRow
key per probe). Cells `CELL_KEY_BITS` apart on an axis share a key;
the strict predicate stays the join condition, so such aliasing only
adds a candidate row, never a wrong hit. Three physical forms apply
them:

1. `contains_point` — a boolean EXISTS subquery column over the
   broadcast, cell-exploded rects, keyed on the outer point's packed
   cell. Spark plans it as a BroadcastHashJoin ExistenceJoin inside
   the point stage: no candidate rows, no aggregation, no shuffle.
   Lookups of several layers against one `cell_rects` table probe one
   broadcast (Spark reuses the exchange). The acceptance family's path
   (plans/acceptance.per_ray_hits), for rect sides that are
   dimension-sized by contract.

2. `binned_containment_join` — the pairs themselves, as a hash join on
   (extra keys, cell) + exact predicate. Turns the nested loop into an
   equi-join that scales linearly with both sides (SURVEY.md §4.2
   item 1): the shuffle-scale path for rect sides that are not
   broadcast-sized.

3. `containment_join` — broadcast join on the extra keys with the
   predicate as post-condition: O(points x rects per key). Only the
   1-event MC sanity re-probe uses it (it needs the LEFT join).

tests/test_plans.py checks the two joins and the per-ray lookup
against a brute-force strict-`<` scan, also on cells that alias.
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


# Width of each cell-index field of the packed key; the layer takes the
# 15 bits above the two fields (below the sign bit).
CELL_KEY_BITS = 24
_FIELD = (1 << CELL_KEY_BITS) - 1


def cell_key(layer: Column, cell_x: Column, cell_y: Column) -> Column:
    """One bigint per (layer, cell_x, cell_y): the low `CELL_KEY_BITS`
    of each cell index (two's complement, so negative cells work) under
    the layer. Cells that differ by a multiple of 2**CELL_KEY_BITS on an
    axis share a key, which the strict predicate resolves. Layers must
    lie in [0, 2**15): the predicate never checks the layer, so layers
    must not share a key."""
    return (
        F.shiftleft(layer.cast("bigint"), 2 * CELL_KEY_BITS)
        .bitwiseOR(F.shiftleft(cell_x.bitwiseAND(_FIELD), CELL_KEY_BITS))
        .bitwiseOR(cell_y.bitwiseAND(_FIELD))
    )


def cell_rects(rects: DataFrame, cell: float, layer: str | None = None) -> DataFrame:
    """`rects` + `cell`, the packed `cell_key` of each grid cell its
    active area overlaps: one row per cell (1..4 when `cell` >= the
    rect extent). `layer` names the column packed into the key's layer
    field (0 when None)."""
    lyr = F.col(layer) if layer else F.lit(0)
    xs = F.sequence(cell_of(F.col("ax1"), cell), cell_of(F.col("ax2"), cell))
    ys = F.sequence(cell_of(F.col("ay1"), cell), cell_of(F.col("ay2"), cell))
    keys = F.transform(xs, lambda x: F.transform(ys, lambda y: cell_key(lyr, x, y)))
    return rects.withColumn("cell", F.explode(F.flatten(keys)))


def contains_point(
    cells: DataFrame,
    cell: float,
    px: Column,
    py: Column,
    layer: int,
    on: dict[str, Column] | None = None,
) -> Column:
    """EXISTS: some rect of `cells`, a `cell_rects(rects, cell, ...)`
    table, in `layer` (the value packed into its key) and whose column k
    equals `on[k]`, strictly contains the point (px, py). The probe is
    one bigint key, `cell_key(layer, cell(px), cell(py))`; several
    layers' lookups over one `cells` table share its broadcast. (Exploded
    by the caller, once for all lookups: each DataFrame step costs a JVM
    round trip and a re-analysis.)

    `px`, `py` and the `on` values are expressions over the OUTER
    query's columns; qualify them through an alias of the outer
    DataFrame (`F.col("ray.variant")`) — with an unqualified tag Spark
    4.1 dropped the correlation, and every ray matched every variant's
    rects. The rect side
    is pinned broadcast: it must be dimension-sized (a createDataFrame
    side has no stats, and unpinned it plans a sort-merge join that
    shuffles the points)."""
    px, py = px.outer(), py.outer()
    key = cell_key(F.lit(layer), cell_of(px, cell), cell_of(py, cell))
    cond = (F.col("cell") == key) & containment_predicate(px, py)
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
    rectangle lands in at most 4 cells. Both sides get the packed
    `cell` key; the join is then a plain shuffle/broadcast HASH join on
    (extra_keys..., cell) with the exact containment predicate as a
    post-filter — Catalyst never sees a pure-inequality join, so no
    nested loop at any scale. The rect side is not pinned: when it can
    be big, the shuffle-hash path on (keys, cell) IS the scale plan."""
    extra_keys = extra_keys or []
    p = points.withColumn(
        "cell", cell_key(F.lit(0), cell_of(F.col(px), cell), cell_of(F.col(py), cell))
    )
    joined = p.join(cell_rects(rects, cell), extra_keys + ["cell"], "inner").filter(
        containment_predicate(F.col(px), F.col(py))
    )
    return joined.drop("cell")
