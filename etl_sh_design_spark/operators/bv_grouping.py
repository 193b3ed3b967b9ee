"""Bias-voltage grouping (SURVEY.md §2.5 W4/W7, §2.10 U3; reference
semantics bias_voltage.py:449-493, ETL.py:423-493, dee_geometry.py:496-538
— no code copied).

W4, the greedy scan (open a new group when the running current budget
would be exceeded OR the candidate's r_min falls below the breakdown
curve of the group head's r_max), resets on a data-dependent threshold,
which a SQL window cannot express; it runs as one `aggregate` fold over
each (layer, vendor) partition's sorted module array
(`greedy_bv_groups`). Contract for scale: the partitions are small and
bounded (one array per partition), and everything heavy is
pre-aggregated before the fold (SURVEY.md §4.2 item 3).

W7, the exact consecutive-split search per supermodule, is a zero-UDF
mask enumeration (`best_consecutive_split`) shared by the synthetic
config search (`find_bv_config`) and the real-layout study
(`registry_layout.bv_min_segments`). The whole family runs as Column
expressions, with no Python worker.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark import datagen
from etl_sh_design_spark.functions import physics

# one breakdown curve per vendor (the 5 fC production curves
# fbk_w13_5fc / hpk_split4_5fc, sensors.py:15,29)
CURVES = {"FBK": (435.93, -2251.2), "HPK": (526.14, -2792.0)}


def modules_from_sensors(sensors: DataFrame) -> DataFrame:
    """Derive the module table (2 sensors stacked in y) from the hot
    corner table: (layer, module_id, x, y, r_min, r_max, current, vendor).

    A2 per-module current rollup + P17 vendor split by min radius.
    """
    nxny = datagen.NX * datagen.NY
    s = (
        sensors.withColumn("rem", F.col("sensor_id") % nxny)
        .withColumn("ix", F.floor(F.col("rem") / datagen.NY))
        .withColumn("iy", F.col("rem") % datagen.NY)
        .withColumn("module_id", (F.col("layer") - 1) * nxny + F.col("ix") * datagen.NY + F.floor(F.col("iy") / 2))
        .withColumn("r", F.sqrt(F.col("x") ** 2 + F.col("y") ** 2))
        .withColumn("current", physics.sensor_current_at("r"))
    )
    mods = s.groupBy("layer", "module_id").agg(
        F.avg("x").alias("x"),
        F.avg("y").alias("y"),
        F.min("r").alias("r_min"),
        F.max("r").alias("r_max"),
        F.sum("current").alias("current"),
        F.count(F.lit(1)).alias("n_sensors"),
    )
    return mods.withColumn(
        "vendor", F.when(F.col("r_min") < 520.0, "FBK").otherwise("HPK")
    )


def greedy_bv_groups(modules: DataFrame) -> DataFrame:
    """W4: per (layer, vendor) greedy BV grouping. Returns one row per
    BV group, (layer, vendor, group_id, n_modules, sum_current, r_min,
    r_max); invariant (golden test): sum_current <= 20 mA.

    Modules are scanned in (r_max desc, module_id) order; a module
    opens a new group when the running current would pass 20 mA OR its
    r_min falls on or below the breakdown curve a*ln(r_max)+b of the
    group head's r_max. The scan is a left fold over each partition's
    sorted module array whose state is the open group, the head's
    curve limit and the closed groups, so each group's sum_current is
    the same sequential double sum as the scan order."""
    (fa, fb), (ha, hb) = CURVES["FBK"], CURVES["HPK"]
    fbk = F.col("vendor") == "FBK"
    a, b = F.when(fbk, fa).otherwise(ha), F.when(fbk, fb).otherwise(hb)
    group = "struct<group_id:bigint,n_modules:bigint,sum_current:double,r_min:double,r_max:double>"

    def step(acc: Column, m: Column) -> Column:
        g = acc["open"]
        new_group = (
            g.isNull()
            | (g["sum_current"] + m["current"] > 20.0)
            | (m["r_min"] <= acc["limit"])
        )
        opened = F.struct(
            F.coalesce(g["group_id"] + 1, F.lit(0).cast("bigint")).alias("group_id"),
            F.lit(1).cast("bigint").alias("n_modules"),
            m["current"].alias("sum_current"),
            m["r_min"].alias("r_min"),
            m["r_max"].alias("r_max"),
        )
        grown = F.struct(
            g["group_id"].alias("group_id"),
            (g["n_modules"] + 1).alias("n_modules"),
            (g["sum_current"] + m["current"]).alias("sum_current"),
            F.least(g["r_min"], m["r_min"]).alias("r_min"),
            F.greatest(g["r_max"], m["r_max"]).alias("r_max"),
        )
        return F.struct(
            F.when(new_group, opened).otherwise(grown).alias("open"),
            F.when(new_group, a * F.log(m["r_max"]) + b).otherwise(acc["limit"]).alias("limit"),
            F.when(new_group & g.isNotNull(), F.array_append(acc["closed"], g))
            .otherwise(acc["closed"])
            .alias("closed"),
        )

    init = F.struct(
        F.lit(None).cast(group).alias("open"),
        F.lit(None).cast("double").alias("limit"),
        F.array().cast(f"array<{group}>").alias("closed"),
    )
    items = F.array_sort(
        F.collect_list(
            F.struct((-F.col("r_max")).alias("key"), "module_id", "r_min", "r_max", "current")
        )
    )
    return (
        modules.groupBy("layer", "vendor")
        .agg(items.alias("items"))
        .select(
            "layer",
            "vendor",
            F.inline(
                F.aggregate(
                    "items", init, step, lambda acc: F.array_append(acc["closed"], acc["open"])
                )
            ),
        )
    )


SM_SIZE = 7  # modules per pseudo-supermodule -> <= 2^6 split masks
BUDGET_MICRO = 5_000_000  # W7 per-segment current budget: 5 mA in micro-amps


def sm_assignments(modules: DataFrame) -> DataFrame:
    """Group modules into pseudo-supermodules: per (layer, y-band row),
    consecutive chunks of <= SM_SIZE along x (reference SuperModule =
    one readout-board row, ETL.py:312-533 shape)."""
    # Pinned partition count: this shuffle is byte-tiny, so AQE would
    # coalesce it to one task, yet the split search keyed on it fans
    # each SM out to <= 64 masks — the cost is CPU, not bytes.
    n_part = modules.sparkSession.sparkContext.defaultParallelism
    m = modules.withColumn("band", F.col("module_id") % datagen.NY).repartition(
        n_part, "layer", "band"
    )
    w = W.partitionBy("layer", "band").orderBy("x", "module_id")
    return m.withColumn(
        "sm_ordinal", F.floor((F.row_number().over(w) - 1) / SM_SIZE)
    )


def best_consecutive_split(positions: DataFrame, keys: list[str], seg_ok: Column) -> DataFrame:
    """Exact search over the consecutive splits of each key's ordered
    items (ETL.py:423-493 find_BV_config shape) by mask enumeration.

    positions: one row per item, (keys..., p, r_min, r_max, cur_micro)
    with p the 0-based position in split order. A key holds at most
    SM_SIZE items (<= 64 masks); a larger one fails in-plan. Bit i of a
    split mask cuts between positions i and i+1, so position p lies in
    segment popcount(mask & ((1 << p) - 1)).

    seg_ok: boolean Column over one segment's n_modules, s_micro,
    seg_rmin / seg_rmax (segment radius extremes), e_rmin / e_rmax
    (extremes over the two endpoint items) and the keys. A mask is
    valid when every segment is ok; per key the valid mask with fewest
    segments, then least current spread (max - min s_micro), then
    lowest mask wins. With no valid mask, every item is its own segment.

    Returns the chosen segments: (keys..., seg_id, n_segs, n_modules,
    s_micro, seg_rmin, seg_rmax, e_rmin, e_rmax). Every stage is keyed
    on a superset of keys, so positions hash-partitioned on a subset of
    keys need no further exchange."""
    n = F.col("n")
    too_many = F.raise_error(
        F.concat(
            F.lit("best_consecutive_split: "),
            n.cast("string"),
            F.lit(f" items in one key > SM_SIZE ({SM_SIZE})"),
        )
    )
    segs = (
        positions.withColumn("n", F.count(F.lit(1)).over(W.partitionBy(*keys)))
        .withColumn("n", F.when(n <= SM_SIZE, n).otherwise(too_many))
        .withColumn("mask", F.explode(F.sequence(F.lit(0), F.expr("shiftleft(1L, n - 1) - 1"))))
        .withColumn("seg_id", F.bit_count(F.col("mask").bitwiseAND(F.expr("shiftleft(1L, p) - 1"))))
        .groupBy(*keys, "n", "mask", "seg_id")
        .agg(
            F.count(F.lit(1)).alias("n_modules"),
            F.sum("cur_micro").alias("s_micro"),
            F.min("r_min").alias("seg_rmin"),
            F.max("r_max").alias("seg_rmax"),
            F.least(F.min_by("r_min", "p"), F.max_by("r_min", "p")).alias("e_rmin"),
            F.greatest(F.min_by("r_max", "p"), F.max_by("r_max", "p")).alias("e_rmax"),
        )
    )
    # both windows share one sort on (keys, mask): a RANGE frame of the
    # same mask's segments, then the whole key
    by_mask = W.partitionBy(*keys).orderBy("mask")
    one_mask = by_mask.rangeBetween(W.currentRow, W.currentRow)
    whole_key = by_mask.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    n_segs = F.bit_count("mask") + 1
    # valid masks first; failing that, the all-singles mask (n segments)
    tier = F.when(F.bool_and(seg_ok).over(one_mask), 0).when(n_segs == n, 1).otherwise(2)
    balance = F.max("s_micro").over(one_mask) - F.min("s_micro").over(one_mask)
    return (
        segs.withColumn("n_segs", n_segs)
        .withColumn("score", F.struct(tier, "n_segs", balance, "mask"))
        .withColumn("best", F.min("score").over(whole_key))
        .filter(F.col("score") == F.col("best"))
        .drop("n", "mask", "score", "best")
    )


def find_bv_config(modules: DataFrame) -> DataFrame:
    """W7 BV config search per pseudo-supermodule: modules ordered by
    (r_max desc, module_id); a segment is ok within the BUDGET_MICRO
    current budget and when its min r_min clears the breakdown curve of
    the SM head's vendor at its max r_max.

    Currents are quantized to integer micro-amps up front
    (floor(c*1e6 + 0.5), matching SQL round-half-away on the
    bit-identical module currents), so the budget check, the balance
    tie-break, and the reported segment sums are exact integer
    arithmetic — which is what makes this search DuckDB-oracle-checkable
    instead of rows-only."""
    sm_key = ["layer", "band", "sm_ordinal"]
    w = W.partitionBy(*sm_key).orderBy(F.col("r_max").desc(), "module_id")
    pos = (
        sm_assignments(modules)
        .select(
            *sm_key,
            "vendor",
            (F.row_number().over(w) - 1).alias("p"),
            "r_min",
            "r_max",
            F.floor(F.col("current") * 1e6 + 0.5).alias("cur_micro"),
        )
        .withColumn("vendor0", F.min_by("vendor", "p").over(W.partitionBy(*sm_key)))
    )
    (fa, fb), (ha, hb) = CURVES["FBK"], CURVES["HPK"]
    fbk = F.col("vendor0") == "FBK"
    limit = F.when(fbk, fa).otherwise(ha) * F.log("seg_rmax") + F.when(fbk, fb).otherwise(hb)
    ok = (F.col("s_micro") <= BUDGET_MICRO) & (F.col("seg_rmin") > limit)
    return best_consecutive_split(pos, [*sm_key, "vendor0"], ok).select(
        *sm_key,
        F.col("seg_id").cast("int").alias("seg_ordinal"),
        F.col("n_modules").cast("int"),
        (F.col("s_micro") / 1e6).alias("sum_current"),
        F.col("seg_rmin").alias("r_min"),
        F.col("seg_rmax").alias("r_max"),
    )


def bv_totals(groups: DataFrame) -> DataFrame:
    """A9: per-vendor BV totals over the grouping result
    (bias_voltage.py:142-159 semantics).

    Cross-engine determinism: the RAW per-group double sums differ in
    last ULPs between engines (the fold's sequential add vs the
    oracle's recursive-CTE add), so any quantization of the raw value
    can land on either side of a .5 boundary. The 6dp-rounded group currents,
    however, are proven bit-equal across engines (``bv_greedy_groups``
    hash-matches). So every output here is a function of that rounded
    value only: scale it to integer micro-amps (exact — a 6dp value
    times 1e6 is within ~1e-4 of an integer, nowhere near a tie) and
    sum bigints, which is also order-independent under Spark's
    nondeterministic partial-aggregation order.

    Semantics note: total_current is the sum of 6dp-quantized group
    currents, not round(sum(raw), 6) as the reference reports — a
    deliberate, documented deviation (<= 0.5 micro-amp per group)
    applied identically on both engines.
    """
    micro = F.round(F.round(F.col("sum_current"), 6) * 1e6).cast("bigint")
    return groups.groupBy("vendor").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_modules").alias("n_modules"),
        F.round(F.sum(micro) / 1e6, 6).alias("total_current"),
        F.round(F.max(F.round("sum_current", 6)), 6).alias("max_group_current"),
    )
