"""Relational and event-series queries on the TPC-H-shaped driver
tables (SURVEY §2): the optimizer-pattern breadth around the core in
`registry.py`.

- TPC-H shapes beyond Q1/Q3/Q5: correlated EXISTS (Q4), scalar-subquery
  agg-joins (Q17), multi-way joins with broadcast dimensions, ROLLUP /
  CUBE / GROUPING SETS marginals, pivot, INTERSECT, null-safe joins,
  MERGE-style upserts and SCD2 history.
- Windows on `events`: as-of joins, RANGE frames, sliding and tumbling
  windows, sessionization, EWMA, rolling medians, gap-filling
  resamples, the funnel interval join.
- Statistics and sketches: regression moments, percentiles, MAD
  outliers, HLL and quantile sketches, skew reports.
- Graph and layout operators: PageRank, label-propagation communities,
  salted joins and aggregates, Z-order layout.

The common shape is a scan, a narrow transform and one keyed shuffle,
with broadcast dimensions; each docstring carries its own scale note.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark.operators.asof import asof_join
from etl_sh_design_spark.operators.dedup import md5_int64
from etl_sh_design_spark.operators.histogram import histogram1d, histogram_mean
from etl_sh_design_spark.operators.merge import merge_upsert
from etl_sh_design_spark.operators.pagerank import pagerank, pagerank_oracle_sql
from etl_sh_design_spark.operators.percentile import grouped_percentiles
from etl_sh_design_spark.operators.skew import salted_join, salted_sum_count
from etl_sh_design_spark.registry import PRICE_BINS, _t, query


@query(
    "asof_events",
    """
WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
purch AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id,
       CAST(CASE WHEN p.ts IS NULL THEN 0 ELSE 1 END AS INT) AS has_prior,
       CAST(CASE WHEN p.ts IS NULL THEN -1
                 ELSE floor(epoch(c.ts)) - floor(epoch(p.ts)) END AS BIGINT) AS gap_s,
       round(coalesce(p.value, -1.0), 4) AS prior_value
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.ts >= p.ts
""",
)
def q_asof_events(spark, sf_dir):
    """Backward as-of join (extension): each click matched to the same
    user's most recent prior purchase. Spark side is the union+window
    single-shuffle formulation (operators/asof.py); oracle is DuckDB's
    native ASOF LEFT JOIN. Deterministic: (user_id, ts) is unique in
    the events table."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    purch = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    j = asof_join(clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
                  payload_cols=["value"])
    return j.select(
        "event_id",
        "user_id",
        F.when(F.col("asof_ts").isNull(), 0).otherwise(1).cast("int").alias("has_prior"),
        F.when(F.col("asof_ts").isNull(), F.lit(-1))
        .otherwise(F.unix_timestamp("ts") - F.unix_timestamp("asof_ts"))
        .cast("bigint")
        .alias("gap_s"),
        F.round(F.coalesce(F.col("asof_value"), F.lit(-1.0)), 4).alias("prior_value"),
    )


@query(
    "cube_qty_marginals",
    """
SELECT coalesce(l_returnflag, 'ALL') AS rf,
       coalesce(l_linestatus, 'ALL') AS ls,
       count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_cube_marginals(spark, sf_dir):
    """A12 marginalization generalized: CUBE over (returnflag,
    linestatus) — all 2^2 grouping sets in one pass (partial aggs +
    a single expand, no re-scan per marginal). Grouping keys are
    non-null in the data, so 'ALL' is an unambiguous subtotal label."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
            "sum_qty",
        )
    )


@query(
    "window_frames_orders",
    """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING), 2) AS running_total,
       round(avg(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3
FROM orders
""",
)
def q_window_frames(spark, sf_dir):
    """Explicit window frames (the reference never needs one — SURVEY
    §2.5 note): per-customer running order total + 3-row moving
    average. Order pinned by (o_orderdate, o_orderkey) so float
    accumulation order is identical cross-engine."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2
        ).alias("running_total"),
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4).alias("ma3"),
    )


@query(
    "ntile_acctbal",
    """
WITH q AS (
  SELECT c_acctbal,
         CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
  FROM customer
)
SELECT quartile, count(*) AS n,
       round(min(c_acctbal), 2) AS lo,
       round(max(c_acctbal), 2) AS hi,
       round(avg(c_acctbal), 4) AS mean_bal
FROM q GROUP BY 1
""",
)
def q_ntile(spark, sf_dir):
    """Quantile bucketing with exact ntile(4) semantics, computed
    WITHOUT a global single-partition sort: rows are range-partitioned
    on the sort key, ranked locally per partition (window partitioned
    by partition id — P balanced groups, not one), and local ranks are
    shifted by broadcast per-partition offsets; the ntile bucket is
    then a closed-form expression of the global rank (first n%4 buckets
    take floor(n/4)+1 rows). Every shuffle is P-way; nothing ever
    funnels through one task, so the same plan holds at fact scale.
    Tie-broken by c_custkey for determinism."""
    c = _t(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    p = spark.sparkContext.defaultParallelism
    # Pin the physical partitioning: the range partitioner SAMPLES its
    # boundaries, and `parts` feeds two separate jobs (the counts
    # collect below and the final ranked plan) — without an eager
    # checkpoint a recompute could draw different boundaries and the
    # broadcast offsets would belong to a partitioning that no longer
    # exists.
    parts = (
        c.repartitionByRange(p, "c_acctbal", "c_custkey")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # Range partitioning guarantees partition i's keys all sort before
    # partition i+1's, so global rank = (rows in earlier partitions) +
    # local rank — regardless of where the sampled boundaries fell.
    counts = sorted(
        (r["pid"], r["cnt"])
        for r in parts.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    n = sum(cnt for _, cnt in counts)
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off_df = spark.createDataFrame(offsets, schema="pid int, _offset long")
    wlocal = W.partitionBy("pid").orderBy("c_acctbal", "c_custkey")
    ranked = (
        parts.withColumn("_lrk", F.row_number().over(wlocal))
        .join(F.broadcast(off_df), "pid")
        .withColumn("_rank", F.col("_offset") + F.col("_lrk"))
    )
    base, rem = n // 4, n % 4
    cut = rem * (base + 1)
    quartile = F.when(
        F.col("_rank") <= cut, (F.col("_rank") - 1) / max(base + 1, 1)
    ).otherwise(rem + (F.col("_rank") - cut - 1) / max(base, 1))
    q = ranked.select(
        "c_acctbal", (F.floor(quartile) + 1).cast("int").alias("quartile")
    )
    return q.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("c_acctbal"), 2).alias("lo"),
        F.round(F.max("c_acctbal"), 2).alias("hi"),
        F.round(F.avg("c_acctbal"), 4).alias("mean_bal"),
    )


@query(
    "stratified_sample_customers",
    """
SELECT c_mktsegment, count(*) AS n_sampled,
       round(sum(c_acctbal), 2) AS sampled_bal
FROM customer
WHERE CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 10 = 0
GROUP BY 1
""",
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic hash sampling (1-in-10 by md5(c_custkey)) with a
    per-stratum summary. Unlike TABLESAMPLE, the hash predicate is
    reproducible across engines AND across runs, needs no extra scan
    or sort, and pushes down as an ordinary filter — the 100 TB way
    to carve a stable sample."""
    c = _t(spark, sf_dir, "customer")
    sampled = c.filter(md5_int64(F.col("c_custkey").cast("string")) % 10 == 0)
    return sampled.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.sum("c_acctbal"), 2).alias("sampled_bal"),
    )


@query(
    "q4_priority_exists",
    """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY 1
""",
)
def q4_exists(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS rewritten as a left-semi join
    with a compound (equi + inequality) condition — Catalyst keeps the
    equi part as the hash key and evaluates the inequality as a join
    residual, so this stays a shuffled-hash/SMJ, never a nested loop."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q17_below_avg_qty",
    """
WITH pa AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qlim
  FROM lineitem GROUP BY 1
)
SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_weekly,
       count(*) AS n_items
FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
WHERE l.l_quantity < pa.qlim
""",
)
def q17_below_avg(spark, sf_dir):
    """TPC-H Q17 shape: scalar-subquery-per-group rewritten as an
    aggregate + self-join (Spark broadcasts the per-part averages —
    an agg-join, not a correlated re-scan). Float-safe: l_quantity is
    integral and per-part sums are exact in double, so 0.2*avg is
    bit-identical cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg((0.2 * F.avg("l_quantity")).alias("qlim"))
    j = li.join(pa, "l_partkey").filter(F.col("l_quantity") < F.col("qlim"))
    return j.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_weekly"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q8_market_share",
    """
WITH rev AS (
  SELECT year(o.o_orderdate) AS o_year,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000.0e0) AS BIGINT) AS micro,
         sn.n_regionkey AS supp_region
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN region cr ON cn.n_regionkey = cr.r_regionkey
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  WHERE cr.r_name = 'AMERICA' AND p.p_type = 'PROMO'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_region = 2 THEN micro ELSE 0 END) AS DOUBLE)
             / CAST(sum(micro) AS DOUBLE), 6) AS asia_share,
       count(*) AS n_items
FROM rev GROUP BY 1
""",
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape (market share): of PROMO-part revenue sold to
    AMERICA-region customers, the fraction supplied from ASIA-region
    (r_regionkey=2) suppliers, per order year. All five dimension
    joins broadcast; the two fact joins shuffle once on their keys.
    Revenue is summed as bigint ten-thousandths so the share is a
    ratio of exact integers (6dp-rounding a ratio double is tie-free,
    unlike rounding a terminating-decimal quotient)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("c_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_regionkey").alias("supp_region"))
    amer = r.filter(F.col("r_name") == "AMERICA").select(F.col("r_regionkey").alias("c_region"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(amer), "c_region")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    )
    micro = F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000).cast(
        "bigint"
    )
    return (
        j.select(F.year("o_orderdate").alias("o_year"), micro.alias("micro"), "supp_region")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_region") == 2, F.col("micro")).otherwise(F.lit(0))).cast("double")
                / F.sum("micro").cast("double"),
                6,
            ).alias("asia_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q9_product_profit",
    """
SELECT sn.n_name AS supp_nation, year(o.o_orderdate) AS o_year,
       ((sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000.0e0) AS BIGINT)) + 50) // 100) / 100.0e0 AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE p.p_type = 'ECONOMY'
GROUP BY 1, 2
""",
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit, adapted — the testdata has
    no partsupp/supplycost, so 'profit' is discounted revenue): per
    (supplier nation, order year) over ECONOMY-type parts. Dimensions
    broadcast; revenue rounded to cents in bigint ((micro+50) div 100)
    like q10 — a double round(x,2) of a terminating-decimal quotient
    sits on the half-up knife edge across engines."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    micro = F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000).cast(
        "bigint"
    )
    return (
        j.select(F.col("n_name").alias("supp_nation"), F.year("o_orderdate").alias("o_year"), micro.alias("micro"))
        .groupBy("supp_nation", "o_year")
        .agg(
            F.expr("((sum(micro) + 50) div 100) / cast(100 as double)").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q15_top_supplier",
    """
WITH srev AS (
  SELECT l.l_suppkey,
         ((sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000.0e0) AS BIGINT)) + 50) // 100) / 100.0e0 AS total_rev
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) = 1996 AND month(o.o_orderdate) <= 3
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, sr.total_rev
FROM srev sr JOIN supplier s ON s.s_suppkey = sr.l_suppkey
WHERE sr.total_rev = (SELECT max(total_rev) FROM srev)
""",
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): per-supplier Q1-1996 revenue,
    keep supplier(s) whose revenue equals the global max — the
    scalar-subquery-vs-view shape, expressed as one aggregation plus a
    broadcast 1-row max joined back (no second scan of the fact).
    Revenue in cents via bigint so the equality compare is exact."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.year("o_orderdate") == 1996) & (F.month("o_orderdate") <= 3)
    )
    s = _t(spark, sf_dir, "supplier")
    micro = F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000).cast(
        "bigint"
    )
    srev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("l_suppkey", micro.alias("micro"))
        .groupBy("l_suppkey")
        .agg(F.expr("((sum(micro) + 50) div 100) / cast(100 as double)").alias("total_rev"))
    )
    mx = srev.agg(F.max("total_rev").alias("max_rev"))
    return (
        srev.join(F.broadcast(mx), srev.total_rev == F.col("max_rev"))
        .join(F.broadcast(s), srev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@query(
    "q16_supplier_counts",
    """
SELECT p.p_brand, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE p.p_type <> 'PROMO' AND s.s_name NOT LIKE '%7'
GROUP BY 1, 2
""",
)
def q16_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape (supplier counts by part attributes, adapted —
    no partsupp, so supply relationships come from lineitem): distinct
    suppliers per (brand, size) excluding PROMO parts and suppliers
    whose name ends in 7 (the NOT LIKE complaint-filter shape).
    Dimensions broadcast; the count-distinct is a two-level partial
    aggregation on (brand, size, suppkey) — no fact self-join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO")
    s = _t(spark, sf_dir, "supplier").filter(~F.col("s_name").like("%7"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q2_min_cost_supplier",
    """
WITH cost AS (
  SELECT l.l_partkey, l.l_suppkey,
         min(CAST(round(l.l_extendedprice * 10000.0e0) AS BIGINT)) AS cost_micro
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
  GROUP BY 1, 2
),
best AS (SELECT l_partkey, min(cost_micro) AS min_micro FROM cost GROUP BY 1)
SELECT round(s.s_acctbal, 2) AS s_acctbal, s.s_name, n.n_name,
       p.p_partkey, p.p_name,
       ((c.cost_micro + 50) // 100) / 100.0e0 AS cost
FROM cost c
JOIN best b ON b.l_partkey = c.l_partkey AND b.min_micro = c.cost_micro
JOIN part p ON p.p_partkey = c.l_partkey AND p.p_size = 15
JOIN supplier s ON s.s_suppkey = c.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
ORDER BY s_acctbal DESC, n.n_name ASC, s.s_name ASC, p.p_partkey ASC
LIMIT 100
""",
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier, adapted — no partsupp, so
    the offered cost is the min observed lineitem price per
    (part, supplier)): for size-15 parts, the EUROPE supplier(s)
    matching the per-part minimum cost — the correlated groupwise-min
    subquery, expressed as agg + per-part min + equality join back
    (no re-scan of the fact). Cost compares happen on exact bigint
    micro-prices; cents division only in the final projection.
    Dimensions broadcast; the two aggs partial map-side."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    eur_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", F.col("s_acctbal"), "n_name")
    )
    micro = F.round(F.col("l_extendedprice") * 10000).cast("bigint")
    cost = (
        li.join(F.broadcast(eur_supp.select("s_suppkey")), li.l_suppkey == F.col("s_suppkey"))
        .select("l_partkey", "l_suppkey", micro.alias("micro"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("micro").alias("cost_micro"))
    )
    best = cost.groupBy("l_partkey").agg(F.min("cost_micro").alias("min_micro"))
    return (
        cost.join(best, ["l_partkey"])
        .filter(F.col("cost_micro") == F.col("min_micro"))
        .join(F.broadcast(p), cost.l_partkey == p.p_partkey)
        .join(F.broadcast(eur_supp), cost.l_suppkey == F.col("s_suppkey"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.expr("((cost_micro + 50) div 100) / cast(100 as double)").alias("cost"),
        )
        .orderBy(F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(100)
    )


@query(
    "q11_important_parts",
    """
WITH v AS (
  SELECT l.l_partkey,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000.0e0) AS BIGINT)) AS value_micro
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_regionkey = 3
  GROUP BY 1
),
tot AS (SELECT sum(value_micro) AS total_micro FROM v)
SELECT v.l_partkey AS p_partkey,
       ((v.value_micro + 50) // 100) / 100.0e0 AS part_value
FROM v, tot
WHERE v.value_micro * 1000 > tot.total_micro
ORDER BY part_value DESC, p_partkey ASC
""",
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (important stock, adapted — part value is
    EUROPE-supplied discounted revenue instead of partsupp stock
    value): parts whose value exceeds 1/1000 of the total — the
    HAVING-vs-global-scalar shape. The threshold compare is pure
    bigint (value*1000 > total), no division; the 1-row total
    broadcasts. One fact shuffle on partkey; the global sum reduces
    the already-aggregated per-part table."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 3)
    eur = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    micro = F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000).cast("bigint")
    v = (
        li.join(F.broadcast(eur), li.l_suppkey == F.col("s_suppkey"))
        .select("l_partkey", micro.alias("micro"))
        .groupBy("l_partkey")
        .agg(F.sum("micro").alias("value_micro"))
    )
    tot = v.agg(F.sum("value_micro").alias("total_micro"))
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(F.col("value_micro") * 1000 > F.col("total_micro"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.expr("((value_micro + 50) div 100) / cast(100 as double)").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), F.asc("p_partkey"))
    )


@query(
    "q12_priority_latency",
    """
SELECT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
            THEN 'late' ELSE 'on_time' END AS ship_bucket,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE year(l.l_shipdate) = 1997
GROUP BY 1
""",
)
def q12_priority_latency(spark, sf_dir):
    """TPC-H Q12 shape (shipmode priority counts, adapted — no
    l_shipmode/commitdate, so the bucket is ship latency vs order
    date): per on-time/late bucket, conditional counts of high- vs
    low-priority lines — the CASE-inside-agg signature. One orderkey
    shuffle; the year filter pushes to the lineitem scan; the
    interval compare is exact timestamp arithmetic on both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1997)
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        F.lit("late"),
    ).otherwise(F.lit("on_time"))
    return (
        j.select(bucket.alias("ship_bucket"), high.alias("high"))
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(F.col("high"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~F.col("high"), 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q20_part_suppliers",
    """
WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
supq AS (
  SELECT l.l_suppkey, sum(l.l_quantity) AS qty
  FROM lineitem l JOIN red ON l.l_partkey = red.p_partkey
  WHERE year(l.l_shipdate) = 1996
  GROUP BY 1
),
thr AS (SELECT 0.5 * avg(qty) AS half_avg FROM supq)
SELECT s.s_suppkey, s.s_name, CAST(sq.qty AS BIGINT) AS qty
FROM supplier s
JOIN supq sq ON sq.l_suppkey = s.s_suppkey
JOIN thr ON sq.qty > thr.half_avg
ORDER BY qty DESC, s_suppkey ASC
""",
)
def q20_part_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (part-promotion suppliers, adapted — no
    partsupp availqty, so the inner aggregate is shipped quantity):
    suppliers whose 1996 shipped quantity of red-named parts exceeds
    half the per-supplier average — the nested-aggregate semi-join
    shape. The part probe and the 1-row threshold broadcast; one
    suppkey shuffle. Quantities are integral doubles, so the sum and
    the strict compare are exact on both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1996)
    red = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    s = _t(spark, sf_dir, "supplier")
    supq = (
        li.join(F.broadcast(red), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    thr = supq.agg((F.avg("qty") * 0.5).alias("half_avg"))
    return (
        supq.crossJoin(F.broadcast(thr))
        .filter(F.col("qty") > F.col("half_avg"))
        .join(F.broadcast(s), supq.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("qty").cast("bigint").alias("qty"))
        .orderBy(F.desc("qty"), F.asc("s_suppkey"))
    )


@query(
    "q21_waiting_suppliers",
    """
WITH f AS (
  SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey, max(l_shipdate) AS max_ship,
         count(DISTINCT l_suppkey) AS n_supp
  FROM f GROUP BY 1
),
blame AS (
  SELECT DISTINCT f.l_orderkey, f.l_suppkey
  FROM f JOIN per_order po ON f.l_orderkey = po.l_orderkey
  WHERE po.n_supp > 1 AND f.l_shipdate = po.max_ship
)
SELECT s.s_name, count(*) AS numwait
FROM blame b JOIN supplier s ON b.l_suppkey = s.s_suppkey
GROUP BY 1
ORDER BY numwait DESC, s_name ASC
LIMIT 20
""",
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting, adapted —
    no receipt/commit dates, so 'kept waiting' means shipped last):
    for finished multi-supplier orders, the supplier(s) whose lineitem
    carries the order's max shipdate, counted per supplier — the
    EXISTS (another supplier) / NOT EXISTS (anyone later) double
    correlation, expressed as one per-order aggregate joined back
    (two orderkey shuffles, no quadratic self-join; the EXISTS pair
    becomes n_supp > 1 and shipdate = max)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    f = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_order = f.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )
    blame = (
        f.join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("l_shipdate") == F.col("max_ship")))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        blame.join(F.broadcast(s), blame.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "a16_histogram_mean",
    f"""
WITH h AS (
  SELECT {PRICE_BINS.bin_sql('l_extendedprice')} AS bin,
         {PRICE_BINS.center_sql(PRICE_BINS.bin_sql('l_extendedprice'))} AS bin_center,
         count(*) AS cnt
  FROM lineitem WHERE {PRICE_BINS.range_sql('l_extendedprice')}
  GROUP BY 1, 2
)
SELECT round(sum(bin_center * cnt) / sum(cnt), 6) AS hist_mean FROM h
""",
)
def q_histogram_mean(spark, sf_dir):
    """A16: mean recovered from binned data (h0.mean() semantics)."""
    h = histogram1d(_t(spark, sf_dir, "lineitem"), "l_extendedprice", PRICE_BINS)
    return histogram_mean(h).select(F.round("hist_mean", 6).alias("hist_mean"))


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


# ------------------------------------------------- time-range frames
_TEN_MIN_US = 600_000_000


@query(
    "range_frame_events",
    f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       count(*) OVER w AS n_10m,
       round(sum(value) OVER w, 6) AS sum_10m
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_TEN_MIN_US} PRECEDING AND CURRENT ROW)
""",
)
def q_range_frame_events(spark, sf_dir):
    """Per-event trailing 10-minute window (RANGE frame over event
    time, microsecond precision): count + sum of `value` per user.
    The frame is expressed on unix_micros so both engines bound it
    with exact integer arithmetic. One shuffle on user_id; state per
    task is the in-frame buffer (bounded by events/user/10min)."""
    e = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_TEN_MIN_US, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_10m"),
        F.round(F.sum("value").over(w), 6).alias("sum_10m"),
    )


# --------------------------------------------------- sliding windows
_SLIDE_US = 300_000_000  # 5 min


@query(
    "sliding_window_events",
    f"""
WITH x AS (
  SELECT (epoch_us(ts) // {_SLIDE_US}) * {_SLIDE_US} AS w1, value, user_id
  FROM events
),
u AS (
  SELECT unnest([w1, w1 - {_SLIDE_US}]) AS win_start_us, value, user_id FROM x
)
SELECT win_start_us, count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM u GROUP BY 1
""",
)
def q_sliding_window_events(spark, sf_dir):
    """Sliding event-time windows (10 min window, 5 min slide): each
    event lands in exactly window/slide = 2 windows. Spark's F.window
    generates the per-event window replicas map-side; the oracle
    unnests the two slide-aligned starts explicitly; shuffle is
    |windows|-sized."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_micros("win.start").alias("win_start_us"),
            "n_events",
            "sum_value",
            "n_users",
        )
    )


# ---------------------------------------------------- JSON extraction
@query(
    "json_props_rollup",
    """
SELECT event_type,
       count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       round(avg(k), 6) AS avg_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY 1
""",
)
def q_json_props_rollup(spark, sf_dir):
    """Semi-structured extraction: pull `$.k` out of the JSON `props`
    column and aggregate per event type. get_json_object evaluates
    JVM-side inside codegen — schema-on-read without a UDF; at scale
    prefer from_json with an explicit schema (single parse, typed
    struct) — both stay in the scan->agg pipeline."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )


# ----------------------------------------------------- grouping sets
@query(
    "grouping_sets_revenue",
    """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (finer than rollup/cube: an arbitrary
    lattice subset) with GROUPING() flags to disambiguate NULL-as-total
    from NULL-as-value. Executes as a single Expand + one aggregate —
    the multi-set expansion is map-side, so the shuffle carries
    |sets| x |groups| rows, not |sets| x |input|."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# ------------------------------------------- rank-distribution windows
@query(
    "rank_distribution_orders",
    """
SELECT o_orderpriority,
       CAST(least(9, floor(pr * 10)) AS INT) AS pr_decile,
       count(*) AS n,
       round(max(cd), 6) AS max_cume_dist
FROM (
  SELECT o_orderpriority,
         round(percent_rank() OVER w, 6) AS pr,
         round(cume_dist() OVER w, 6) AS cd
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
)
GROUP BY 1, 2
""",
)
def q_rank_distribution(spark, sf_dir):
    """percent_rank / cume_dist rank distributions per order priority,
    folded into deciles. The window sorts within each priority
    partition (one shuffle); the decile fold keeps the checkable
    surface |priorities| x 10 regardless of scale. Ties broken by
    o_orderkey so both engines rank identically."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    r = o.select(
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )
    return (
        r.groupBy(
            "o_orderpriority",
            F.least(F.lit(9), F.floor(F.col("pr") * 10)).cast("int").alias("pr_decile"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("cd"), 6).alias("max_cume_dist"),
        )
    )


# --------------------------------------------------- null-safe equality
@query(
    "nullsafe_join_customers",
    """
WITH a AS (
  SELECT c_custkey, nullif(c_nationkey % 7, 3) AS k FROM customer
),
b AS (
  SELECT nullif(n_nationkey % 7, 3) AS k, count(*) AS n_nations
  FROM nation GROUP BY 1
)
SELECT coalesce(CAST(a.k AS VARCHAR), 'NULL') AS k_str,
       count(*) AS n_customers,
       CAST(min(b.n_nations) AS BIGINT) AS n_nations
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY 1
""",
)
def q_nullsafe_join(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of dropping — the semantics CDC and
    late-dimension pipelines need when NULL is a real key value. NULLs
    are injected via nullif since the driver tables are null-free.
    Spark executes <=> as a hash join (null-safe keys hash like any
    value), so the plan is the ordinary broadcast/SMJ shape — no
    nested-loop penalty."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 7, F.lit(3)).alias("k")
    )
    n = (
        _t(spark, sf_dir, "nation")
        .select(F.nullif(F.col("n_nationkey") % 7, F.lit(3)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )
    j = c.join(n, c["k"].eqNullSafe(n["k"])).select(
        F.coalesce(c["k"].cast("string"), F.lit("NULL")).alias("k_str"),
        "n_nations",
    )
    return j.groupBy("k_str").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("n_nations").cast("bigint").alias("n_nations"),
    )


# ------------------------------------------- outer-join distribution
@query(
    "q13_custdist",
    """
WITH c_orders AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT c_count, count(*) AS custdist
FROM c_orders GROUP BY 1
""",
)
def q_q13_custdist(spark, sf_dir):
    """TPC-H Q13 shape: LEFT OUTER join with a right-side predicate in
    the ON clause (push it to WHERE and the semantics silently change:
    customers whose only orders are urgent must still appear with
    c_count=0), then a two-level aggregate. At scale: the outer join
    shuffles on custkey; the second agg is tiny (distinct counts).
    count(o_orderkey) over the null-extended rows is the non-null
    count, matching SQL semantics in both engines."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------- scalar subquery + anti join
@query(
    "q22_idle_customers",
    """
WITH avg_bal AS (
  SELECT round(avg(c_acctbal), 2) AS a FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey % 10 AS code,
       count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY 1
""",
)
def q_q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: global-average scalar subquery (broadcast as a
    1-row cross join), NOT EXISTS anti join (against the customer's
    urgent orders — the synthetic data gives every customer at least
    one order, so the anti-join side is the urgent subset to keep the
    result non-degenerate), then a grouped rollup. The average is
    rounded to 2dp on both sides before the comparison so the
    threshold cannot flip on last-bit summation-order differences.
    At scale the anti join shuffles on custkey (or broadcasts the
    distinct custkeys of the smaller side); the scalar is one row."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    a = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("a")
    )
    rich = c.join(F.broadcast(a)).filter(F.col("c_acctbal") > F.col("a"))
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return idle.groupBy((F.col("c_nationkey") % 10).alias("code")).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


# ---------------------------------------------- SCD Type-2 dimension
@query(
    "scd2_user_history",
    """
WITH ordered AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, event_type, ts_us FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type,
       ts_us AS valid_from_us,
       lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS valid_to_us,
       CAST(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
            AS BOOLEAN) AS is_current
FROM changes
""",
)
def q_scd2_user_history(spark, sf_dir):
    """SCD Type-2 dimension build from a change stream: consecutive
    duplicate states are compacted (only rows where event_type differs
    from the previous row open a new version), each version carries
    [valid_from, valid_to) microsecond bounds, and the open version is
    flagged is_current. The standard CDC -> warehouse-dimension
    pattern. Two windows over the SAME (user_id, ts) partitioning —
    Spark reuses one shuffle/sort for both (and for the downstream
    lead), so the whole build is a single exchange. Ties broken by
    event_id so both engines pick identical predecessors."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select("user_id", "event_type", "ts_us")
    )
    w2 = W.partitionBy("user_id").orderBy("ts_us")
    nxt = F.lead("ts_us").over(w2)
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts_us").alias("valid_from_us"),
        nxt.alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


# ------------------------------------------- statistical aggregates
@query(
    "regression_stats",
    """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qty_price,
       round(stddev_samp(l_extendedprice), 6) AS std_price,
       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem
GROUP BY 1
""",
)
def q_regression_stats(spark, sf_dir):
    """Bivariate statistical aggregates per group: Pearson correlation,
    sample covariance, stddev, and OLS slope/intercept (price ~ qty).
    All are single-pass partial-aggregable moments — Catalyst computes
    them map-side and merges, no second scan, no window. Rounded to
    6dp: the moment accumulation order differs between engines."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("covar_qty_price"),
        F.round(F.stddev_samp("l_extendedprice"), 6).alias("std_price"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 6).alias("intercept"),
        F.regr_count("l_extendedprice", "l_quantity").cast("bigint").alias("n"),
    )


# --------------------------------------------- time-series features
_EWMA_ALPHA = 0.5
_EWMA_DEPTH = 8


def _ewma_sql() -> str:
    a = _EWMA_ALPHA
    num = " + ".join(
        f"coalesce({a} * power({1 - a}, {j}) * lag(value, {j}) OVER w, 0.0e0)"
        for j in range(_EWMA_DEPTH)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {j}) OVER w IS NOT NULL"
        f" THEN {a} * power({1 - a}, {j}) ELSE 0.0e0 END"
        for j in range(_EWMA_DEPTH)
    )
    return f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       round(({num}) / ({den}), 6) AS ewma8
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
"""


@query("ewma_events", _ewma_sql())
def q_ewma_events(spark, sf_dir):
    """Windowed exponential smoothing (depth-8 truncated EWMA) of the
    event value per user: sum_j a(1-a)^j * lag(value, j), renormalized
    over the terms that exist near the partition head. The truncation
    is what keeps the op declarative — a closed-form weighted sum of 8
    lags instead of the recursive full-history EWMA, which needs a
    per-key sequential scan (and whose tail weights are < 0.4% here).
    All 8 lags share one (user_id, ts) sort, so the cost is one
    exchange regardless of depth."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    a = _EWMA_ALPHA
    num = sum(
        (
            F.coalesce(
                F.lit(a) * F.lit((1 - a) ** j) * F.lag("value", j).over(w),
                F.lit(0.0),
            )
            for j in range(_EWMA_DEPTH)
        ),
        F.lit(0.0),
    )
    den = sum(
        (
            F.when(F.lag("value", j).over(w).isNotNull(), F.lit(a * (1 - a) ** j)).otherwise(
                F.lit(0.0)
            )
            for j in range(_EWMA_DEPTH)
        ),
        F.lit(0.0),
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_us",
        F.round(num / den, 6).alias("ewma8"),
    )


@query(
    "rolling_median_events",
    """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       round(median(value) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id
                                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
         AS med5
FROM events
""",
)
def q_rolling_median_events(spark, sf_dir):
    """Rolling exact median (last 5 events per user) — the robust
    denoiser for sensor/value streams where the mean is outlier-
    sensitive. Spark rejects median() with a window frame, so the
    frame's values are gathered with collect_list (bounded at 5) and
    the median read off the sorted array — same single (user_id, ts)
    exchange as every other per-user window op, O(frame log frame)
    per row."""
    e = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(-4, 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    med = F.when(n % 2 == 1, mid_odd).otherwise(
        (F.element_at(arr, (n / 2).cast("int")) + mid_hi) / 2.0
    )
    return e.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(med, 6).alias("med5"),
    )


# ------------------------------------------ TPC-H shape batch (round 2b)
@query(
    "q7_nation_volume",
    """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000.0e0) AS BIGINT)) / 10000.0e0, 2) AS volume
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
""",
)
def q_q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: a 6-relation join chain (fact -> two independent
    dimension arms) with a cross-arm inequality predicate, grouped by
    the pair + year. All four dims broadcast; the fact table is
    touched once and never reshuffled until the final |pairs x years|
    aggregate. The nation filter prunes both arms at the scan."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nations = ["NATION_1", "NATION_2"]
    sn = n.filter(F.col("n_name").isin(nations)).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.filter(F.col("n_name").isin(nations)).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(
        F.round(
            F.sum(
                F.round(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
                ).cast("bigint")
            )
            / 10000.0,
            2,
        ).alias("volume")
    )


@query(
    "q10_returned_revenue",
    """
SELECT c.c_custkey, c.c_name, n.n_name,
       round(c.c_acctbal, 2) AS c_acctbal,
       ((sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000.0e0) AS BIGINT)) + 50) // 100) / 100.0e0 AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) <= 3
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
)
def q_q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returns per customer in a
    quarter — selective date + flag predicates pushed to both fact
    scans, dims broadcast, then a top-20 by revenue (TakeOrdered, no
    global sort materialization). Ties broken by c_custkey so the
    LIMIT cut is deterministic. Revenue is rounded to cents entirely in
    bigint ten-thousandths ((micro + 50) div 100) — a double round(x, 2)
    sits on a half-up knife edge between Spark's decimal-string rounding
    and DuckDB's binary-double rounding."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.year("o_orderdate") == 1996) & (F.month("o_orderdate") <= 3)
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    # join order matters at fact scale: orders(quarter) |><| lineitem(R)
    # first, so only the doubly-filtered slim result rides the custkey
    # shuffle to customer — joining customer before lineitem would drag
    # every customer row through the orderkey exchange too. Nation
    # broadcasts; customer cannot (1.5M rows/SF), so that join is one
    # custkey shuffle.
    j = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
    )
    return (
        j.groupBy(
            "c_custkey", "c_name", "n_name", F.round("c_acctbal", 2).alias("c_acctbal")
        )
        .agg(
            F.sum(
                F.round(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
                ).cast("bigint")
            ).alias("_micro")
        )
        .withColumn("revenue", F.expr("((_micro + 50) div 100) / cast(100 as double)"))
        .drop("_micro")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_ratio",
    """
SELECT CAST(year(l_shipdate) AS INT) AS l_year,
       round(100.0e0
             * sum(CAST(round(CASE WHEN p.p_type = 'PROMO'
                         THEN l.l_extendedprice * (1 - l.l_discount)
                         ELSE 0.0e0 END * 10000.0e0) AS BIGINT))
             / sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000.0e0) AS BIGINT)), 6)
         AS promo_pct
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY 1
""",
)
def q_q14_promo_ratio(spark, sf_dir):
    """TPC-H Q14 shape: conditional-aggregate ratio (promo revenue
    share per ship year). The part dim broadcasts; numerator and
    denominator come out of ONE pass (two conditional sums in the same
    aggregate), each rounded 2dp before the division so the ratio is
    engine-deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
    cents = lambda c: F.sum(F.round(c * 10000).cast("bigint"))
    return j.groupBy(F.year("l_shipdate").cast("int").alias("l_year")).agg(
        F.round(
            100.0
            * cents(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
            / cents(rev),
            6,
        ).alias("promo_pct")
    )


@query(
    "q18_large_orders",
    """
SELECT o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice,
       round(sum(CAST(round(l.l_quantity * 100.0e0) AS BIGINT)) / 100.0e0, 2) AS total_qty
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
)
GROUP BY 1, 2
""",
)
def q_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: IN over a grouped-HAVING subquery (large-volume
    orders) -> semi join against the same fact table, then re-aggregate
    the survivors. Catalyst plans the IN as a left-semi hash join on
    orderkey; the HAVING side partial-aggregates map-side so the semi
    join's build input is |orders|-sized, not |lineitem|-sized."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 150)
        .select("l_orderkey")
    )
    j = o.join(big, o.o_orderkey == big.l_orderkey, "left_semi").join(
        li, li.l_orderkey == o.o_orderkey
    )
    return j.groupBy(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    ).agg(
        F.round(
            F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")) / 100.0, 2
        ).alias("total_qty")
    )


@query(
    "q19_disjunctive_parts",
    """
SELECT round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000.0e0) AS BIGINT)) / 10000.0e0, 2) AS revenue,
       count(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 5 AND 20
       AND l.l_quantity BETWEEN 5 AND 30)
   OR (p.p_type = 'PROMO' AND p.p_size BETWEEN 20 AND 35
       AND l.l_quantity BETWEEN 10 AND 40)
""",
)
def q_q19_disjunctive_parts(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides.
    Catalyst extracts the common join key (equi hash join on partkey)
    and pushes the part-only disjuncts below the join
    (p_size/p_brand/p_type union bound) — the predicate-normalization
    pattern that turns a would-be nested loop into hash join + residual
    filter."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(5, 20)
            & F.col("l_quantity").between(5, 30)
        )
        | (
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(20, 35)
            & F.col("l_quantity").between(10, 40)
        )
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(
                F.round(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
                ).cast("bigint")
            )
            / 10000.0,
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_GAP_MIN = 30


@query(
    "sessionization_events",
    f"""
WITH marked AS (
  SELECT user_id, event_id, ts, value,
         -- floor(epoch()) matches Spark's unix_timestamp (truncating);
         -- bare epoch() keeps fractional seconds and CAST would round
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > {_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       count(*) AS n_events,
       round(sum(value), 4) AS session_value
FROM sess
GROUP BY 1, 2
""",
)
def q_sessionization(spark, sf_dir):
    """Sessionization (30-min inactivity gap) via lag + running sum
    (the gaps-and-islands OLAP pattern)."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > _GAP_MIN * 60
            ),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.unix_timestamp(F.min("ts")).alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


@query(
    "pivot_returnflag_status",
    """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS O,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS F
FROM lineitem
GROUP BY 1
""",
)
def q_pivot(spark, sf_dir):
    """Pivot: quantity by returnflag x linestatus spread to columns."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )
    return out.select(
        "l_returnflag",
        F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("O"),
        F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("F"),
    )


@query(
    "intersect_customers",
    """
SELECT count(*) AS n_both
FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
)
""",
)
def q_intersect(spark, sf_dir):
    """SO set layer completeness: INTERSECT (customers with both open
    and finished orders). LAZY single-row aggregate — building the
    DataFrame triggers no job (the former eager .count() executed at
    queries()-construction time; regression-tested by
    tests/test_monitoring.py::test_query_construction_runs_no_jobs)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b).agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))


@query(
    "stats_summary",
    """
SELECT l_returnflag,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price,
       round(avg(l_extendedprice), 4) AS mean_price,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
       round(stddev_samp(l_extendedprice), 2) AS sd_price,
       count(DISTINCT l_partkey) AS n_parts
FROM lineitem
GROUP BY 1
""",
)
def q_stats(spark, sf_dir):
    """Ordered-statistics aggregate battery: exact interpolated median
    (matches quantile_cont), sample stddev, count distinct.

    The median comes from operators/percentile.grouped_percentiles —
    the sort-spillable rank plan — NOT the buffering `percentile(...)`
    aggregate: l_returnflag has 3 values over ALL of lineitem, exactly
    the huge-group shape that OOMs the buffering form at 100 TB
    (plan-linted: rule EXACT_PERCENTILE)."""
    li = _t(spark, sf_dir, "lineitem")
    med = grouped_percentiles(
        li, ["l_returnflag"], "l_extendedprice", {"median_price": 0.5}
    )
    base = li.groupBy("l_returnflag").agg(
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_extendedprice"), 4).alias("mean_price"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    return base.join(
        med.select("l_returnflag", F.round("median_price", 4).alias("median_price")),
        "l_returnflag",
    ).select(
        "l_returnflag",
        "min_price",
        "max_price",
        "mean_price",
        "median_price",
        "sd_price",
        "n_parts",
    )


@query(
    "salted_agg_events",
    """
SELECT event_type, round(sum(value), 4) AS sum_value, count(*) AS cnt
FROM events
GROUP BY 1
""",
)
def q_salted_agg(spark, sf_dir):
    """Skew-salted two-phase aggregation — the oracle is the plain
    groupBy (the salting must be semantics-preserving). event_type has
    ~5 values over all rows: exactly the hot-key shape salting exists
    for."""
    e = _t(spark, sf_dir, "events")
    out = salted_sum_count(e, ["event_type"], "value", n_salts=16)
    return out.select(
        "event_type",
        F.round("sum_value", 4).alias("sum_value"),
        "cnt",
    )


@query("approx_stats", None)  # sketches are engine-specific: rows-only check
def q_approx_stats(spark, sf_dir):
    """Approximate-aggregate surface (HLL++ count-distinct, GK
    quantile sketch) — exposed per SURVEY §2.4 note; sketch outputs
    are engine-specific so this is a rows-only contract, with the
    sanity bounds asserted in tests."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "merge_upsert_customers",
    """
WITH updates AS (
  SELECT c_custkey, c_name, c_nationkey, round(c_acctbal + 100.0, 2) AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, 'NEWSEG'
  FROM customer WHERE c_custkey % 97 = 0
),
kept AS (
  SELECT c.* FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
),
merged AS (SELECT * FROM kept UNION ALL SELECT * FROM updates)
SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS total_bal
FROM merged GROUP BY 1
""",
)
def q_merge_upsert(spark, sf_dir):
    """MERGE-INTO emulation (CDC upsert): anti-join + union, verified
    by post-merge per-segment aggregates."""
    c = _t(spark, sf_dir, "customer")
    updated = c.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2)
    )
    new_rows = (
        c.filter(F.col("c_custkey") % 97 == 0)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("c_mktsegment", F.lit("NEWSEG"))
    )
    merged = merge_upsert(c, updated.unionByName(new_rows), "c_custkey")
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@query(
    "q6_revenue_change",
    """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_delta,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-filter-aggregate — every predicate
    must reach the parquet scan (pushdown asserted in test_plans)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue_delta"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


# ------------------------------------------------------------ PageRank
# Deterministic link graph derived from events: 197 nodes, an edge
# per (user bucket -> event bucket) pair. Dense enough for hubs to
# emerge, small enough that the unrolled oracle stays fast.
_PR_MOD = 197
_PR_ITERS = 3
_PR_EDGES_SQL = f"""
SELECT DISTINCT user_id % {_PR_MOD} AS src, event_id % {_PR_MOD} AS dst
FROM events WHERE user_id % {_PR_MOD} <> event_id % {_PR_MOD}
"""


@query("pagerank_hubs", pagerank_oracle_sql(_PR_EDGES_SQL, iterations=_PR_ITERS))
def q_pagerank_hubs(spark, sf_dir):
    """PageRank over the derived event graph: 3 power-iteration
    rounds, each ONE |E|-keyed shuffle + a |V|-row rank update (see
    operators/pagerank.py for the scale contract and the per-round
    9dp quantization that makes the unrolled-CTE oracle hash-match)."""
    e = _t(spark, sf_dir, "events")
    edges = e.select(
        (F.col("user_id") % _PR_MOD).alias("src"),
        (F.col("event_id") % _PR_MOD).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    # the derived graph has <= _PR_MOD nodes: rank state broadcasts,
    # so each round is exactly one groupBy-dst shuffle
    return pagerank(edges, iterations=_PR_ITERS, small_state=True)


# ------------------- mergeable quantile sketch (two-level histogram)
# Power-of-2-binned value histogram, built per shard then MERGED —
# the quantile counterpart of the HLL two-level pattern below, but
# fully deterministic, so unlike approx_percentile it carries a FULL
# hash oracle. Bin index = floor(log2(cents + 1)) computed exactly as
# length(bin(iv + 1)) - 1 on BOTH engines (binary-string length; no
# transcendental near a bucket edge can flip a bin). Everything stays
# integer until the final reported bin lower edges.
_QSK_BIN_SPARK = (
    "length(bin(CAST(round(greatest(value, 0.0) * 100) AS BIGINT) + 1)) - 1"
)
_QSK_BIN_DUCK = (
    "length(bin(CAST(round(greatest(value, 0.0) * 100) AS BIGINT) + 1)) - 1"
)


def _qsk_edge(bin_col: str) -> str:
    """Lower value edge of power-of-2 cent-bin b: (2^b - 1) / 100."""
    return f"round((power(2.0, {bin_col}) - 1.0) / 100.0, 6)"


@query(
    "quantile_sketch_events",
    f"""
WITH b AS (
  SELECT event_type, user_id % 32 AS shard, {_QSK_BIN_DUCK} AS bin
  FROM events
),
sh AS (SELECT event_type, shard, bin, count(*) AS c FROM b GROUP BY 1, 2, 3),
m AS (SELECT event_type, bin, CAST(sum(c) AS BIGINT) AS c FROM sh GROUP BY 1, 2),
cum AS (
  SELECT event_type, bin, c,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS total
  FROM m
)
SELECT event_type,
       CAST(max(total) AS BIGINT) AS n_events,
       count(*) AS n_bins,
       {_qsk_edge("min(CASE WHEN cum >= ceil(total * 0.5) THEN bin END)")} AS p50,
       {_qsk_edge("min(CASE WHEN cum >= ceil(total * 0.9) THEN bin END)")} AS p90,
       {_qsk_edge("min(CASE WHEN cum >= ceil(total * 0.99) THEN bin END)")} AS p99
FROM cum GROUP BY 1
""",
)
def q_quantile_sketch_events(spark, sf_dir):
    """Mergeable quantile sketch (two-level histogram aggregation):
    per (event_type, shard) a power-of-2-binned cent histogram is
    built map-side, then shard sketches MERGE by summing bin counts —
    the reaggregation algebra that lets 1000 executors (or days of
    pre-computed partition rollups) combine into corpus quantiles at
    100 TB without re-reading values. Deterministic binning (binary-
    string length, exact integer log2) means this sketch — unlike
    approx_percentile's GK sketch — hash-matches a SQL twin exactly.
    Shuffles: one (type, shard, bin)-keyed partial agg, then a
    (type, bin) merge over a sketch-sized (not data-sized) frame;
    the quantile extraction window runs over <=~24 bins per type."""
    e = _t(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        (F.col("user_id") % 32).alias("shard"),
        F.expr(_QSK_BIN_SPARK).alias("bin"),
    )
    sh = b.groupBy("event_type", "shard", "bin").agg(F.count(F.lit(1)).alias("c"))
    m = sh.groupBy("event_type", "bin").agg(F.sum("c").alias("c"))
    w = W.partitionBy("event_type")
    cum = m.select(
        "event_type",
        "bin",
        F.sum("c").over(w.orderBy("bin")).alias("cum"),
        F.sum("c").over(w).alias("total"),
    )

    def pick(q: float) -> F.Column:
        return F.min(
            F.when(F.col("cum") >= F.ceil(F.col("total") * q), F.col("bin"))
        )

    def edge(col: F.Column) -> F.Column:
        return F.round((F.pow(F.lit(2.0), col) - 1.0) / 100.0, 6)

    return cum.groupBy("event_type").agg(
        F.max("total").alias("n_events"),
        F.count(F.lit(1)).alias("n_bins"),
        edge(pick(0.5)).alias("p50"),
        edge(pick(0.9)).alias("p90"),
        edge(pick(0.99)).alias("p99"),
    )


# ----------------------- mergeable HLL sketches (two-level aggregation)
@query("hll_distinct_sketch")  # rows-only: DataSketches HLL has no DuckDB twin
def q_hll_distinct_sketch(spark, sf_dir):
    """Mergeable-sketch distinct counting (Apache DataSketches HLL,
    built into Spark): per event_type, 32 shard-level sketches are
    built map-side and UNIONED — the two-level partial-aggregation
    pattern that makes distinct-count reaggregatable across 1000
    executors, days of partitions, or pre-computed rollups at 100 TB
    (exact countDistinct cannot be merged; sketches can). The golden
    proves merged == direct == within 5% of exact; the driver check
    is rows-only (no SQL twin exists for the sketch), like
    approx_stats."""
    e = _t(spark, sf_dir, "events")
    shard = e.groupBy(
        "event_type", (F.col("user_id") % 32).alias("shard")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = shard.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    return merged.join(direct, "event_type").select(
        "event_type",
        "est_merged",
        "est_direct",
        "exact_distinct",
        F.round(
            F.abs(F.col("est_merged") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_error"),
    )


# --------------------------------------------------------------------
# robust (median / MAD) outlier detection
# --------------------------------------------------------------------

@query(
    "mad_outliers_events",
    """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, median(ad) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(max(d.med), 6) AS med,
       round(max(m2.mad), 6) AS mad,
       CAST(sum(CASE WHEN 0.6745e0 * d.ad > 3.5e0 * m2.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(max(CASE WHEN m2.mad > 0 THEN 0.6745e0 * d.ad / m2.mad ELSE 0.0e0 END), 6) AS max_abs_z
FROM dev d JOIN mad m2 USING (event_type)
GROUP BY 1
""",
)
def q_mad_outliers_events(spark, sf_dir):
    """Robust outlier detection per event type: Iglewicz-Hoaglin
    modified z-score 0.6745*(x - median)/MAD, flagging |z| > 3.5.
    Median/MAD resist the very outliers they hunt (unlike mean/stddev,
    cf. `stats_summary`) — the standard telemetry-sanity check before
    trusting pipeline throughput metrics.

    Both engines compute the EXACT interpolated median (DuckDB
    `median` = percentile_cont; Spark via the sort-spillable rank plan
    in operators/percentile.grouped_percentiles — the buffering
    `percentile()` aggregate would hold an entire event_type's values
    in one executor at 100 TB and is plan-lint-banned), so the oracle
    hash-matches. Two |E|-keyed shuffles (median, then MAD over
    deviations) and a broadcast of the per-type medians.
    """
    e = _t(spark, sf_dir, "events")
    med = grouped_percentiles(e, ["event_type"], "value", {"med": 0.5})
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = grouped_percentiles(dev, ["event_type"], "ad", {"mad": 0.5})
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(
                    F.lit(0.6745) * F.col("ad") > F.lit(3.5) * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.round(
                F.max(
                    F.when(
                        F.col("mad") > 0,
                        F.lit(0.6745) * F.col("ad") / F.col("mad"),
                    ).otherwise(F.lit(0.0))
                ),
                6,
            ).alias("max_abs_z"),
        )
    )


# --------------------------------------------------------------------
# label-propagation communities (majority-vote LPA, 2 sync rounds)
# --------------------------------------------------------------------
# The third iterative-graph pattern beside pagerank (weighted power
# iteration) and graph.py's connected components (min-label fixpoint):
# LPA converges on DENSE neighborhoods, not mere reachability — the
# community structure used to group near-dup clusters, user cohorts,
# or domain link farms. Synchronous rounds + full tie-breaking
# ((count DESC, label ASC) per node) make it deterministic and
# exactly expressible as an unrolled CTE for the oracle.
_LPA_MOD = 197
# Thin the dense derived graph deterministically ((src*31+dst)%20==0,
# avg degree ~4) — LPA on the near-complete 197-node event graph
# collapses to one community, which exercises nothing; at this density
# real neighborhood structure survives two rounds.
_LPA_EDGES_SQL = f"""
SELECT src, dst FROM (
  SELECT DISTINCT user_id % {_LPA_MOD} AS src, event_id % {_LPA_MOD} AS dst
  FROM events WHERE user_id % {_LPA_MOD} <> event_id % {_LPA_MOD}
) WHERE (src * 31 + dst) % 20 = 0
"""

_LPA_ROUND_SQL = """
c{r} AS (
  SELECT s.src AS node, l.lbl, count(*) AS n
  FROM sym s JOIN l{p} l ON l.node = s.dst
  GROUP BY 1, 2
),
w{r} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node ORDER BY n DESC, lbl ASC) AS rk
    FROM c{r}) WHERE rk = 1
),
l{r} AS (
  SELECT l.node, COALESCE(w.lbl, l.lbl) AS lbl
  FROM l{p} l LEFT JOIN w{r} w ON w.node = l.node
)"""


@query(
    "lpa_communities",
    f"""
WITH edges AS ({_LPA_EDGES_SQL}),
sym AS (
  SELECT src, dst FROM edges
  UNION
  SELECT dst AS src, src AS dst FROM edges
),
nodes AS (SELECT DISTINCT src AS node FROM sym),
l0 AS (SELECT node, node AS lbl FROM nodes),
{_LPA_ROUND_SQL.format(r=1, p=0)},
{_LPA_ROUND_SQL.format(r=2, p=1)}
SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
FROM l2 GROUP BY 1
""",
)
def q_lpa_communities(spark, sf_dir):
    """Two synchronous label-propagation rounds over the derived event
    graph: each node adopts its neighbors' MAJORITY label (ties ->
    smallest label; isolated nodes keep their own), then communities
    are the surviving labels with their sizes.

    Scale shape per round: one |E|-keyed join of edges against the |V|
    label table, a map-combined (node, label) count, and a window
    bounded by each node's DEGREE (never a global window) — the same
    per-round cost envelope as pagerank, which shares this graph. The
    label table is localCheckpointed between rounds to cut lineage
    exactly as pagerank/kmeans do."""
    e = _t(spark, sf_dir, "events")
    edges = (
        e.select(
            (F.col("user_id") % _LPA_MOD).alias("src"),
            (F.col("event_id") % _LPA_MOD).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .filter((F.col("src") * 31 + F.col("dst")) % 20 == 0)
    )
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    for _ in range(2):
        nb = sym.join(
            labels.select(F.col("node").alias("dst"), "lbl"), "dst"
        ).select(F.col("src").alias("node"), "lbl")
        counts = nb.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("n"))
        w = W.partitionBy("node").orderBy(F.col("n").desc(), F.col("lbl").asc())
        winner = (
            counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", F.col("lbl").alias("new_lbl"))
        )
        labels = (
            labels.join(winner, "node", "left")
            .select("node", F.coalesce("new_lbl", "lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


# --------------------------------------------------------------------
# join-key skew report (the pre-flight for skew.py's salting)
# --------------------------------------------------------------------
@query(
    "skew_report_events",
    """
WITH freq AS (
  SELECT user_id AS key, count(*) AS c FROM events GROUP BY 1
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(c) AS BIGINT) AS max_freq,
         CAST(quantile_disc(c, 0.5) AS BIGINT) AS median_freq,
         CAST(quantile_disc(c, 0.99) AS BIGINT) AS p99_freq,
         CAST(sum(c) AS BIGINT) AS n_rows
  FROM freq
),
top AS (
  SELECT key, c FROM freq ORDER BY c DESC, key ASC LIMIT 5
)
SELECT t.key AS hot_key, CAST(t.c AS BIGINT) AS freq,
       round(t.c * 1.0e0 / s.n_rows, 6) AS row_share,
       s.n_keys, s.median_freq, s.p99_freq,
       round(s.max_freq * 1.0e0 / s.median_freq, 6) AS max_over_median
FROM top t, stats s
""",
)
def q_skew_report_events(spark, sf_dir):
    """Join-key skew diagnostic over events.user_id: the 5 hottest
    keys with their row share, plus distribution stats (median/p99/
    max-over-median frequency). This is the pre-flight you run before
    deciding whether a key needs `operators/skew.py`'s salting or can
    ride AQE's skew-join split — at 100 TB you run it on a sample or
    a CMS sketch (`cms_token_frequency` is the sketched form of the
    same question), but the exact form is itself cheap: one
    map-combined count, a key-count-sized quantile, and a top-5.

    Quantile contract (pinned, exact — not a sketch): the discrete
    inverted-CDF quantile, i.e. the element at 1-based rank
    ceil(p * n) of the ascending-sorted counts. DuckDB's
    quantile_disc implements exactly this convention (verified on
    boundary cases incl. p99 between two distinct values); Spark
    computes the SAME rank expression over a sorted collect_list of
    the key-count-sized freq table (bounded: |distinct keys| values
    on one reducer — audit-query contract, same class as the YAML
    dim sink)."""
    e = _t(spark, sf_dir, "events")
    freq = e.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)  # two consumers: stats + top-5
    stats = freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_freq"),
        F.sort_array(F.collect_list("c")).alias("_cs"),
        F.sum("c").cast("bigint").alias("n_rows"),
    ).select(
        "n_keys",
        "max_freq",
        # F.get is 0-based and returns NULL out-of-range (no ANSI
        # error on an empty events table, where n_keys = 0)
        F.get("_cs", F.ceil(F.lit(0.5) * F.col("n_keys")).cast("int") - 1)
        .cast("bigint")
        .alias("median_freq"),
        F.get("_cs", F.ceil(F.lit(0.99) * F.col("n_keys")).cast("int") - 1)
        .cast("bigint")
        .alias("p99_freq"),
        "n_rows",
    )
    top = freq.orderBy(F.col("c").desc(), F.col("key").asc()).limit(5)
    return top.crossJoin(F.broadcast(stats)).select(
        F.col("key").alias("hot_key"),
        F.col("c").cast("bigint").alias("freq"),
        F.round(F.col("c") / F.col("n_rows"), 6).alias("row_share"),
        "n_keys",
        "median_freq",
        "p99_freq",
        F.round(F.col("max_freq") / F.col("median_freq"), 6).alias("max_over_median"),
    )


# ------------------------------------------------------ Z-order layout
_Z_SPARK = (
    "aggregate(sequence(0, 7), 0L, (acc, i) -> acc"
    " + shiftleft(shiftright(ix, i) & 1L, 2 * i)"
    " + shiftleft(shiftright(iy, i) & 1L, 2 * i + 1))"
)
_Z_DUCK = (
    "CAST(list_sum(list_transform(range(0, 8), i ->"
    " ((ix >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))"
    " + ((iy >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1)))) AS BIGINT)"
)


@query(
    "zorder_layout",
    f"""
WITH k AS (
  SELECT user_id AS ix, event_id % 256 AS iy, value FROM events
),
z AS (SELECT {_Z_DUCK} AS zval, value FROM k)
SELECT zval // 64 AS z_tile, count(*) AS n,
       CAST(min(zval) AS BIGINT) AS z_min, CAST(max(zval) AS BIGINT) AS z_max,
       round(sum(value), 6) AS sum_value
FROM z GROUP BY 1
""",
)
def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering key over two dimensions, the
    multi-dimensional data-layout primitive: interleaving 8 bits of
    each key gives a 1-D sort order under which a range predicate on
    EITHER dimension touches O(sqrt) of the tiles — at 100 TB you
    `repartitionByRange(zval)` + sortWithinPartitions before the
    parquet write so min/max footer stats prune on both columns. The
    bit-interleave runs entirely in codegen (aggregate over
    sequence(0,7), shift/mask — no UDF). Emits per-64-key-tile
    occupancy as the checkable surface."""
    e = _t(spark, sf_dir, "events")
    k = e.select(
        F.col("user_id").alias("ix"),
        (F.col("event_id") % 256).alias("iy"),
        "value",
    )
    z = k.select(F.expr(_Z_SPARK).alias("zval"), "value")
    return (
        z.groupBy((F.col("zval") / 64).cast("bigint").alias("z_tile"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("zval").alias("z_min"),
            F.max("zval").alias("z_max"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


# -------------------------------------------- event-funnel interval join
_FUNNEL_US = 600_000_000  # 10 minutes


@query(
    "funnel_interval_join",
    f"""
WITH c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase')
SELECT c.user_id,
       count(*) AS n_pairs,
       CAST(min(p.p_us - c.c_us) AS BIGINT) AS min_delay_us,
       CAST(max(p.p_us - c.c_us) AS BIGINT) AS max_delay_us
FROM c JOIN p ON p.user_id = c.user_id
             AND p.p_us > c.c_us AND p.p_us <= c.c_us + {_FUNNEL_US}
GROUP BY 1
""",
)
def q_funnel_interval_join(spark, sf_dir):
    """Event-funnel interval join: click -> purchase by the same user
    within 10 minutes. Equi-key on user_id with a time-range residual:
    Spark executes it as a hash/sort-merge join on user_id with the
    range as a post-filter — at 100 TB both sides are bucketed by
    user_id so the join is co-located."""
    e = _t(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("c_us")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.unix_micros("ts").alias("p_us")
    )
    joined = c.join(
        p,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_us") > F.col("c_us"))
        & (F.col("p_us") <= F.col("c_us") + _FUNNEL_US),
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.col("p_us") - F.col("c_us")).alias("min_delay_us"),
        F.max(F.col("p_us") - F.col("c_us")).alias("max_delay_us"),
    )


# ------------------------------------------------------- salted join
@query(
    "salted_join_events",
    """
WITH dim AS (
  SELECT DISTINCT user_id, user_id % 10 AS category FROM events
)
SELECT category, count(*) AS n, round(sum(value), 6) AS sum_value
FROM events e JOIN dim USING (user_id)
GROUP BY 1
""",
)
def q_salted_join_events(spark, sf_dir):
    """Skew-proof salted equi-join (operators/skew.py:salted_join):
    the user dimension is replicated n_salts times and each event's
    salt comes from hashing its row id, so a hot user's rows spread
    over n_salts reducers. The oracle is the PLAIN join — salting must
    not change semantics, only the shuffle layout. Pick this over AQE
    skew-join when the dim is too big to broadcast and a single key
    dominates a shuffled-hash join."""
    e = _t(spark, sf_dir, "events")
    dim = e.select("user_id").distinct().withColumn("category", F.col("user_id") % 10)
    joined = salted_join(e.select("event_id", "user_id", "value"), dim, "user_id", "event_id")
    return joined.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )


# --------------------------------------------- resample + LOCF gap fill
_STEP_US = 21_600_000_000  # 6 hours


@query(
    "resample_locf_events",
    f"""
WITH s AS (
  SELECT user_id, epoch_us(ts) // {_STEP_US} AS step,
         round(avg(value), 6) AS v
  FROM events GROUP BY 1, 2
),
b AS (SELECT user_id, min(step) AS s0, max(step) AS s1 FROM s GROUP BY 1),
g AS (SELECT user_id, unnest(range(s0, s1 + 1)) AS step FROM b),
j AS (
  SELECT g.user_id, g.step, s.v
  FROM g LEFT JOIN s ON s.user_id = g.user_id AND s.step = g.step
)
SELECT user_id, CAST(step * {_STEP_US} AS BIGINT) AS step_us,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY step
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       v IS NOT NULL AS is_observed
FROM j
""",
)
def q_resample_locf(spark, sf_dir):
    """Time-series resampling to a regular 6-hour grid with
    last-observation-carried-forward gap fill (the feature-pipeline
    staple for joining irregular events onto a training grid). The
    per-user grid comes from `sequence()` + explode (map-side, no
    driver loop); LOCF is one `last(ignorenulls)` running window — a
    single shuffle on user_id covers bucketing, grid join, and fill.
    At 100 TB the grid is |users| x |steps| rows, generated ON the
    user's partition, never materialized centrally."""
    e = _t(spark, sf_dir, "events")
    s = (
        e.select("user_id", (F.unix_micros("ts") / _STEP_US).cast("bigint").alias("step"), "value")
        .groupBy("user_id", "step")
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    b = s.groupBy("user_id").agg(F.min("step").alias("s0"), F.max("step").alias("s1"))
    g = b.select("user_id", F.explode(F.sequence("s0", "s1")).alias("step"))
    j = g.join(s, ["user_id", "step"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("step")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "user_id",
        (F.col("step") * _STEP_US).cast("bigint").alias("step_us"),
        F.last("v", ignorenulls=True).over(w).alias("value_filled"),
        F.col("v").isNotNull().alias("is_observed"),
    )


# ------------------------------------------------ tumbling-window agg
@query(
    "tumbling_window_events",
    """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
       event_type,
       count(*) AS n,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def q_tumbling(spark, sf_dir):
    """Tumbling 1-hour windowed aggregation over events (one
    |windows x event types|-sized shuffle)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
