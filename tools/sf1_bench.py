#!/usr/bin/env python
"""One real sf1-scale pass (round-5 verdict task 8): run the headline
families at sf0.1 AND at a 10x corpus (= sf1-equivalent volume for
every table), recording wall seconds and shuffle-write bytes, so the
10x scaling extrapolations in SCALE.md are closed by a measured
full-pipeline pass at the largest SF the sandbox holds.

TPC-H tables are scaled by KEY-STRIDED copies: copy k shifts every
join key (orderkey/custkey/partkey/suppkey) by k*10M, so each copy
preserves the original join fan-in/fan-out exactly — the same
workload repeated 10x, never cross-copy join growth. nation/region
are dimensions and stay as-is (copies keep referencing them, as a
larger TPC-H SF would). documents/events/embeddings reuse the
alphabet-rotated / strided builders from tools/scale_probe.py.

Usage: python tools/sf1_bench.py  (prints a markdown table; ~5 min)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scale_probe import (  # noqa: E402
    COPIES,
    SF01,
    SF10X,
    build_10x,
    build_10x_embeddings,
    shuffle_write_bytes,
)

STRIDE = 10_000_000

# (table, [key columns to stride])
TPCH_STRIDED = [
    ("customer", ["c_custkey"]),
    ("orders", ["o_orderkey", "o_custkey"]),
    ("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"]),
    ("part", ["p_partkey"]),
    ("supplier", ["s_suppkey"]),
]
TPCH_DIMS = ["nation", "region"]


def build_10x_tpch(spark) -> None:
    from pyspark.sql import functions as F

    for table, keys in TPCH_STRIDED:
        out_path = f"{SF10X}/{table}.parquet"
        if os.path.exists(out_path):
            continue
        t = spark.read.parquet(f"{SF01}/{table}.parquet")
        parts = []
        for k in range(COPIES):
            cols = [
                (F.col(c) + k * STRIDE).alias(c) if c in keys else F.col(c)
                for c in t.columns
            ]
            parts.append(t.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(out_path)
    for table in TPCH_DIMS:
        out_path = f"{SF10X}/{table}.parquet"
        if not os.path.exists(out_path):
            spark.read.parquet(f"{SF01}/{table}.parquet").write.mode(
                "overwrite"
            ).parquet(out_path)


def main() -> None:
    from etl_sh_design_spark import registry, registry_dedup
    from etl_sh_design_spark.plans import acceptance
    from etl_sh_design_spark.session import get_spark
    from etl_sh_design_spark.sources.io import reference_dir

    spark = get_spark(app_name="sf1_bench", ui=True)
    spark.sparkContext.setLogLevel("ERROR")
    build_10x(spark)
    build_10x_embeddings(spark)
    build_10x_tpch(spark)

    # warm JVM, codegen, parquet footers
    spark.read.parquet(f"{SF10X}/lineitem.parquet").count()
    acceptance.acceptance_profile(spark, 1000).collect()

    qs = registry.queries()
    plan = [
        # family, registry callable (None -> special-cased below)
        ("q1_pricing_summary", qs["q1_pricing_summary"]),
        ("q3_top_orders", qs["q3_top_orders"]),
        ("q5_region_revenue", qs["q5_region_revenue"]),
        ("q9_product_profit", qs["q9_product_profit"]),
        ("q21_waiting_suppliers", qs["q21_waiting_suppliers"]),
        ("dedup_family_shared", None),
        ("minhash_lsh_neardup", qs["minhash_lsh_neardup"]),
        ("ngram_jaccard_neardup", qs["ngram_jaccard_neardup"]),
        ("span_trim_audit", qs["span_trim_audit"]),
        ("bloom_decontamination", qs["bloom_decontamination"]),
        ("curation_pipeline_e2e", qs["curation_pipeline_e2e"]),
        ("token_budget_selection", qs["token_budget_selection"]),
    ]

    results: dict[str, dict[str, tuple[float, float]]] = {}
    # the dedup-family memo keys on (app, sf_dir), so the two SF
    # passes don't cross-contaminate
    for sf_dir in (SF01, SF10X):
        for name, fn in plan:
            sw0 = shuffle_write_bytes(spark)
            t0 = time.perf_counter()
            if name == "dedup_family_shared":
                registry_dedup.dedup_components(spark, sf_dir).count()
            else:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 2)
            mb = round((shuffle_write_bytes(spark) - sw0) / 1e6, 1)
            results.setdefault(name, {})[sf_dir] = (dt, mb)
            spark.catalog.clearCache()

    # MC acceptance scales with rays, not sf — probe at 1e6 rays on
    # both the synthetic grid and the REAL layout (the 100 TB-shaped
    # workload: map-only projection + broadcast containment)
    new_yaml = os.path.join(reference_dir(), "layouts", "database_new.yaml")
    for label, runner in (
        ("acceptance_1e6_rays", lambda: acceptance.acceptance_profile(spark, 1_000_000)),
        (
            "real_acceptance_1e6_rays",
            lambda: acceptance.real_acceptance_profile(spark, 1_000_000, new_yaml)
            if os.path.exists(new_yaml)
            else None,
        ),
    ):
        r = runner()
        if r is None:
            continue
        sw0 = shuffle_write_bytes(spark)
        t0 = time.perf_counter()
        r.write.format("noop").mode("overwrite").save()
        dt = round(time.perf_counter() - t0, 2)
        mb = round((shuffle_write_bytes(spark) - sw0) / 1e6, 1)
        results[label] = {SF10X: (dt, mb)}

    print("\n| query | sf0.1 s | sf1 s | time ratio | sf0.1 shuffle MB | sf1 shuffle MB | shuffle ratio |")
    print("|---|---|---|---|---|---|---|")
    for name, r in results.items():
        a = r.get(SF01)
        b = r.get(SF10X)
        if a and b:
            tr = round(b[0] / a[0], 1) if a[0] > 0 else float("nan")
            sr = round(b[1] / a[1], 1) if a[1] > 0.05 else float("nan")
            print(
                f"| {name} | {a[0]} | {b[0]} | {tr}x | {a[1]} | {b[1]} | {sr}x |"
            )
        elif b:
            print(f"| {name} | — | {b[0]} | — | — | {b[1]} | — |")


if __name__ == "__main__":
    main()
