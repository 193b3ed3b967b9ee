"""Optimizer-pattern breadth batch: as-of join, CUBE marginals,
window frames (running + sliding), ntile bucketing, deterministic
hash-stratified sampling, correlated-EXISTS (TPC-H Q4 shape), and the
scalar-subquery agg-join (TPC-H Q17 shape).

These round out the §2 surface with the plan shapes a 100 TB engine
leans on: single-shuffle as-of (vs range-join explosion), partial-agg
cube, frame-based windows, hash sampling that needs no second scan,
semi-join EXISTS rewrites, and broadcast agg-joins.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_sh_design_spark.operators.histogram import histogram1d, histogram_mean
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
    from etl_sh_design_spark.operators.asof import asof_join

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
    from etl_sh_design_spark.operators.dedup import md5_int64

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
