"""Coverage batch: the remaining SURVEY.md §2 operators that warrant
their own oracle-checked queries — array surgery (P21), self-join
pairs (J4), rounded float-equality join (J5), ordinal join (J6),
run-comparison join (J9), slot-state counts (A5), histogram mean
(A16), set equality (SO3), translate (P6), and the string/date
built-in surface (§2.8)."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark import datagen
from etl_sh_design_spark.operators.histogram import BinSpec, histogram1d, histogram_mean
from etl_sh_design_spark.plans import acceptance, tiling
from etl_sh_design_spark.registry import _t, query


@query(
    "p21_flavor_surgery",
    f"""
WITH mp AS ({datagen.MOD_PARTITIONS_SQL}),
rewritten AS (
  SELECT row_ordinal,
         CASE WHEN flavors[len(flavors)] = 6
              THEN list_concat(list_slice(flavors, 1, len(flavors) - 1), [3, 3])
              ELSE flavors END AS flavors
  FROM mp
)
SELECT row_ordinal, CAST(ordinal AS INT) AS ordinal, flavor
FROM (SELECT row_ordinal, unnest(flavors) AS flavor,
             generate_subscripts(flavors, 1) AS ordinal
      FROM rewritten)
""",
)
def q_flavor_surgery(spark, sf_dir):
    """P21 conditional array rewrite (layout_print.ipynb cells 15-16
    semantics): rows ending in a 6-board get it replaced by [3,3];
    exploded with ordinals for hashing."""
    mp = datagen.mod_partitions(spark)
    rewritten = mp.withColumn(
        "flavors",
        F.when(
            F.element_at("flavors", -1) == 6,
            F.concat(F.slice("flavors", 1, F.size("flavors") - 1), F.array(F.lit(3), F.lit(3))),
        ).otherwise(F.col("flavors")),
    )
    return rewritten.select(
        "row_ordinal", F.posexplode("flavors").alias("pos", "flavor")
    ).select("row_ordinal", (F.col("pos") + 1).cast("int").alias("ordinal"), "flavor")


@query(
    "j4_sm_module_pairs",
    f"""
WITH sensors AS ({datagen.SENSORS_SQL}),
m AS (
  SELECT layer,
         CAST(layer - 1 AS BIGINT) * {datagen.NX * datagen.NY}
           + CAST(floor((sensor_id % {datagen.NX * datagen.NY}) / {datagen.NY}) AS BIGINT) * {datagen.NY}
           + CAST(floor(((sensor_id % {datagen.NX * datagen.NY}) % {datagen.NY}) / 2) AS BIGINT) AS module_id,
         avg(x) AS x
  FROM sensors GROUP BY 1, 2
),
mb AS (SELECT layer, module_id, module_id % {datagen.NY} AS band, x FROM m)
SELECT a.layer AS layer, a.band AS band,
       count(*) AS n_pairs,
       round(max(abs(a.x - b.x)), 6) AS max_dx
FROM mb a JOIN mb b
  ON a.layer = b.layer AND a.band = b.band AND a.module_id < b.module_id
GROUP BY 1, 2
""",
)
def q_sm_pairs(spark, sf_dir):
    """J4 self-join: all module pairs within a band/supermodule row
    (`combinations(self.modules, 2)` ETL.py:424-425 semantics)."""
    from etl_sh_design_spark.operators.bv_grouping import modules_from_sensors

    m = modules_from_sensors(datagen.sensors(spark)).withColumn(
        "band", F.col("module_id") % datagen.NY
    )
    a = m.select("layer", "band", F.col("module_id").alias("ma"), F.col("x").alias("xa"))
    b = m.select("layer", "band", F.col("module_id").alias("mb"), F.col("x").alias("xb"))
    return (
        a.join(b, ["layer", "band"])
        .filter(F.col("ma") < F.col("mb"))
        .groupBy("layer", "band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.max(F.abs(F.col("xa") - F.col("xb"))), 6).alias("max_dx"),
        )
    )


@query(
    "j5_rounded_equijoin",
    f"""
WITH sensors AS ({datagen.SENSORS_SQL}),
rows_y AS (SELECT DISTINCT round(y, 1) AS y_key FROM sensors WHERE layer = 1),
s2 AS (SELECT round(y, 1) AS y_key, abs(x) AS ax FROM sensors WHERE layer = 2)
SELECT y_key, count(*) AS n_sensors, round(avg(ax), 6) AS mean_abs_x
FROM s2 JOIN rows_y USING (y_key)
GROUP BY 1
""",
)
def q_rounded_join(spark, sf_dir):
    """J5 float-equality join hazard, solved by rounding to a fixed
    precision key (occupancy.py:85-92 dict-keyed-by-float semantics;
    SURVEY §7.4 hard part). The per-row statistic is avg(|x|), NOT
    avg(x): x is symmetric about 0, so avg(x) cancels to ±0.0 with a
    summation-ORDER-dependent sign — Spark could emit -0.0 where the
    oracle emits +0.0 (a real hash-mismatch class, not a rounding one)."""
    s = datagen.sensors(spark)
    rows_y = (
        s.filter(F.col("layer") == 1).select(F.round("y", 1).alias("y_key")).distinct()
    )
    s2 = s.filter(F.col("layer") == 2).select(
        F.round("y", 1).alias("y_key"), F.abs("x").alias("ax")
    )
    return (
        s2.join(F.broadcast(rows_y), "y_key")
        .groupBy("y_key")
        .agg(
            F.count(F.lit(1)).alias("n_sensors"),
            F.round(F.avg("ax"), 6).alias("mean_abs_x"),
        )
    )


@query(
    "j6_ordinal_join",
    "WITH "
    + tiling.RUNS_CTE
    + f""",
ranked AS (
  SELECT iy, start_ix, n_slots,
         CAST(row_number() OVER (ORDER BY iy, start_ix) AS INT) AS rn
  FROM runs
),
mp AS ({datagen.MOD_PARTITIONS_SQL})
SELECT r.rn AS row_ordinal, r.iy, r.start_ix, r.n_slots, m.n_boards
FROM ranked r JOIN mp m ON r.rn = m.row_ordinal
""",
)
def q_ordinal_join(spark, sf_dir):
    """J6: match the i-th pinned partition spec to the i-th layout row
    by ordinal (bias_voltage.py:105-114 semantics) — row_number on one
    side, equi-join on the ordinal."""
    # ordinal WITHOUT WindowExec: `runs` is the O(100)-row derived
    # layout table; rn = |rows sorting at-or-before me| via a broadcast
    # theta-join (bounded by construction) — no single-partition window.
    # (tiling.runs is itself the session-memoized checkpoint since
    # round 12 — no second checkpoint needed.)
    runs = tiling.runs(spark)
    r2 = runs.select(F.col("iy").alias("iy2"), F.col("start_ix").alias("sx2"))
    at_or_before = (F.col("iy2") < F.col("iy")) | (
        (F.col("iy2") == F.col("iy")) & (F.col("sx2") <= F.col("start_ix"))
    )
    ranked = (
        runs.join(F.broadcast(r2), at_or_before)
        .groupBy("iy", "start_ix", "n_slots")
        .agg(F.count(F.lit(1)).cast("int").alias("rn"))
    )
    mp = datagen.mod_partitions(spark)
    return (
        ranked.join(F.broadcast(mp), ranked.rn == mp.row_ordinal)
        .select(
            F.col("rn").alias("row_ordinal"),
            "iy",
            "start_ix",
            "n_slots",
            "n_boards",
        )
    )


_N_A, _N_B = 8000, 20000


@query(
    "j9_run_comparison",
    f"""
WITH run_a AS ({acceptance.acceptance_profile_sql(_N_A)}),
run_b AS ({acceptance.acceptance_profile_sql(_N_B)})
SELECT a.eta_bin AS eta_bin, a.eff AS eff_a, b.eff AS eff_b,
       round(a.eff - b.eff, 6) AS eff_diff
FROM run_a a JOIN run_b b ON a.eta_bin = b.eta_bin
""",
)
def q_run_comparison(spark, sf_dir):
    """J9: overlay/compare two stored runs (dee_geometry.py:813-866
    semantics) — here two MC runs at different statistics joined on the
    profile bin. (The S6 Parquet run-cache sink/scan is exercised in
    tests/test_sources.py; the comparison join itself is this query.)

    Both runs go through ONE acceptance pipeline: each run's rays carry
    a `run` tag through `acceptance.per_ray_hits` (per run, below the
    union, as that function requires), and one `acceptance.profile`
    aggregates their union; the second run reuses the first's rect
    broadcasts. The a/b comparison is a conditional aggregation over
    the (run, eta_bin) profile instead of a self-join whose branches
    would each re-plan the whole pipeline; bins missing either run are
    dropped, like the oracle's inner join."""
    sensors = datagen.sensors(spark)

    def run_per_ray(run: str, n: int):
        rays = datagen.rays(spark, n).withColumn("run", F.lit(run))
        return acceptance.per_ray_hits(rays, sensors, ["run"])

    per_ray = run_per_ray("a", _N_A).unionByName(run_per_ray("b", _N_B))
    prof = acceptance.profile(per_ray, acceptance.ETA_BINS, ["run"])
    eff_a = F.max(F.when(F.col("run") == "a", F.col("eff")))
    eff_b = F.max(F.when(F.col("run") == "b", F.col("eff")))
    return (
        prof.groupBy("eta_bin")
        .agg(eff_a.alias("eff_a"), eff_b.alias("eff_b"))
        .filter(F.col("eff_a").isNotNull() & F.col("eff_b").isNotNull())
        .select(
            "eta_bin",
            "eff_a",
            "eff_b",
            F.round(F.col("eff_a") - F.col("eff_b"), 6).alias("eff_diff"),
        )
    )


@query(
    "a5_slot_state_counts",
    tiling.SLOTS_SQL.replace(
        "SELECT iy, ix, state, coalesce(available, FALSE) AS available FROM slots",
        """
SELECT state, count(*) AS n_slots,
       CAST(sum(CASE WHEN coalesce(available, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_available
FROM slots GROUP BY 1
""",
    ),
)
def q_slot_state_counts(spark, sf_dir):
    """A5: slot availability census + fill-factor inputs
    (ETL.py:810-816 semantics)."""
    s = tiling.slots(spark)
    return s.groupBy("state").agg(
        F.count(F.lit(1)).alias("n_slots"),
        F.sum(F.coalesce(F.col("available"), F.lit(False)).cast("int"))
        .cast("bigint")
        .alias("n_available"),
    )


_PRICE_BINS = BinSpec(20, 0.0, 100000.0)


@query(
    "a16_histogram_mean",
    f"""
WITH h AS (
  SELECT {_PRICE_BINS.bin_sql('l_extendedprice')} AS bin,
         {_PRICE_BINS.center_sql(_PRICE_BINS.bin_sql('l_extendedprice'))} AS bin_center,
         count(*) AS cnt
  FROM lineitem WHERE {_PRICE_BINS.range_sql('l_extendedprice')}
  GROUP BY 1, 2
)
SELECT round(sum(bin_center * cnt) / sum(cnt), 6) AS hist_mean FROM h
""",
)
def q_histogram_mean(spark, sf_dir):
    """A16: mean recovered from binned data (h0.mean() semantics)."""
    h = histogram1d(_t(spark, sf_dir, "lineitem"), "l_extendedprice", _PRICE_BINS)
    return histogram_mean(h).select(F.round("hist_mean", 6).alias("hist_mean"))


@query(
    "so3_set_equality",
    f"""
WITH sensors AS ({datagen.SENSORS_SQL}),
l1 AS (SELECT x, y FROM sensors WHERE layer = 1),
l2 AS (SELECT x, y FROM sensors WHERE layer = 2)
SELECT (SELECT count(*) FROM (SELECT * FROM l1 EXCEPT ALL SELECT * FROM l2)) AS n_only_1,
       (SELECT count(*) FROM (SELECT * FROM l2 EXCEPT ALL SELECT * FROM l1)) AS n_only_2
""",
)
def q_set_equality(spark, sf_dir):
    """SO3 set-equality check (TDR disk1 == disk2 comparison,
    geometric_acceptance.ipynb cell 44 semantics) via exceptAll both
    ways. LAZY: the two scalar counts are single-row aggregates
    cross-joined into one row — no job runs at DataFrame-build time
    (the former eager .count() pair did; see
    tests/test_monitoring.py::test_query_construction_runs_no_jobs)."""
    s = datagen.sensors(spark)
    l1 = s.filter(F.col("layer") == 1).select("x", "y")
    l2 = s.filter(F.col("layer") == 2).select("x", "y")
    n1 = l1.exceptAll(l2).agg(F.count(F.lit(1)).cast("bigint").alias("n_only_1"))
    n2 = l2.exceptAll(l1).agg(F.count(F.lit(1)).cast("bigint").alias("n_only_2"))
    return n1.crossJoin(n2)


@query(
    "p6_translate_probe",
    f"""
WITH sensors AS ({datagen.SENSORS_SQL}),
t AS (SELECT layer, ax1 + 100.0e0 AS ax1, ax2 + 100.0e0 AS ax2,
             ay1 - 50.0e0 AS ay1, ay2 - 50.0e0 AS ay2
      FROM sensors)
SELECT layer, count(*) AS n_contains
FROM t
WHERE ax1 < 500.0e0 AND 500.0e0 < ax2 AND ay1 < 300.0e0 AND 300.0e0 < ay2
GROUP BY 1
""",
)
def q_translate(spark, sf_dir):
    """P6 translate (move_by) cascading to derived corners, verified by
    a containment probe on the shifted geometry."""
    from etl_sh_design_spark.functions.transforms import translate

    t = translate(datagen.sensors(spark), dx=100.0, dy=-50.0)
    return (
        t.filter(
            (F.col("ax1") < 500.0) & (F.lit(500.0) < F.col("ax2"))
            & (F.col("ay1") < 300.0) & (F.lit(300.0) < F.col("ay2"))
        )
        .groupBy("layer")
        .agg(F.count(F.lit(1)).alias("n_contains"))
    )


@query(
    "string_date_revenue",
    """
SELECT year(l_shipdate) AS ship_year,
       substr(p_type, 1, 6) AS type_prefix,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_name LIKE '%a%' AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
GROUP BY 1, 2
""",
)
def q_string_date(spark, sf_dir):
    """§2.8 string/date built-in surface: LIKE, substring, year
    extraction, timestamp comparison (driver TPC-H-style checks)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(F.col("p_name").like("%a%") & (F.col("l_shipdate") >= "1995-01-01"))
        .groupBy(
            F.year("l_shipdate").alias("ship_year"),
            F.substring("p_type", 1, 6).alias("type_prefix"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )
