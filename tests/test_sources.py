"""Sources/sinks layer tests (SURVEY.md §2.1): S1 TSV scan with
corrupt-record quarantine, S3/S4 YAML roundtrip, S5 mirrored CSV sink,
S6 Parquet run cache with partition pruning, U1 polygon predicates."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_sh_design_spark.sources import io as src


def test_tsv_scan_permissive(spark, tmp_path):
    p = tmp_path / "face1.txt"
    p.write_text(
        "Module\tX\tY\tZ\n"
        "1\t100.5\t200.5\t2998.25\n"
        "2\tnot_a_number\t1\t2\n"  # malformed -> quarantined, not dropped
        "3\t-55.0\t40.0\t2998.25\n"
    )
    df = src.read_face_tsv(spark, str(p))
    clean, bad = src.split_corrupt(df)
    assert clean.count() == 2
    assert bad.count() == 1
    assert dict(clean.dtypes)["x"] == "double"


def test_yaml_roundtrip(spark, tmp_path):
    out = tmp_path / "layout.yaml"
    df = spark.createDataFrame(
        [("new", "disk1", "front", 10.0, 20.0), ("new", "disk1", "back", -10.0, 20.0)],
        "layout STRING, disk STRING, face STRING, x DOUBLE, y DOUBLE",
    )
    src.write_yaml_layout(df, str(out))
    back = src.read_yaml_layout(spark, str(out))
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_mirrored_csv_sink(spark, tmp_path):
    out = str(tmp_path / "centers")
    df = spark.createDataFrame([(1.0, 2.0), (3.0, 4.0)], "x DOUBLE, y DOUBLE")
    src.write_mirrored_centers_csv(df, out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 4
    xs = sorted(float(r["x"]) for r in back.collect())
    assert xs == [-3.0, -1.0, 1.0, 3.0]


def test_parquet_run_cache(spark, tmp_path):
    cache = str(tmp_path / "cache")
    a = spark.createDataFrame([(0, 0.5)], "bin INT, eff DOUBLE")
    b = spark.createDataFrame([(0, 0.7)], "bin INT, eff DOUBLE")
    src.cache_result(a, cache, "run_a")
    src.cache_result(b, cache, "run_b")
    src.cache_result(b, cache, "run_b")  # idempotent re-write of one run
    both = src.read_cached_runs(spark, cache, ["run_a", "run_b"])
    assert both.count() == 2
    only_a = src.read_cached_runs(spark, cache, ["run_a"])
    assert only_a.collect()[0]["eff"] == 0.5
    # partition pruning: the filter must reach the scan as a partition filter
    plan = only_a._jdf.queryExecution().executedPlan().toString()
    assert "run_a" in plan


def test_polygon_point_in_polygon(spark):
    from etl_sh_design_spark.operators.polygon import point_in_polygon

    pts = spark.createDataFrame(
        [(0.5, 0.5), (2.0, 2.0), (0.99, 0.01)], "px DOUBLE, py DOUBLE"
    )
    unit_square = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    inside = pts.withColumn("inside", point_in_polygon("px", "py", unit_square))
    out = {(r["px"], r["py"]): r["inside"] for r in inside.collect()}
    assert out[(0.5, 0.5)] is True
    assert out[(2.0, 2.0)] is False
    assert out[(0.99, 0.01)] is True


def test_filter_blocked_polygons(spark):
    from etl_sh_design_spark.operators.polygon import point_in_polygon

    slots = spark.createDataFrame(
        [(0, 50.0, 0.0), (1, 500.0, 500.0)], "slot_id INT, cx DOUBLE, cy DOUBLE"
    )
    nose = [(-130.0, -70.0), (130.0, -70.0), (130.0, 70.0), (-130.0, 70.0)]
    kept = slots.filter(~point_in_polygon("cx", "cy", nose)).collect()
    assert [r["slot_id"] for r in kept] == [1]


def test_rects_overlap_polygon_cases(spark):
    """J3 polygon-polygon overlap (reference ETL.py:552-553): every
    geometric relationship class, against a triangle (0,0)(10,0)(0,10)."""
    from etl_sh_design_spark.operators.polygon import rect_overlap_count

    tri = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]
    rects = spark.createDataFrame(
        [
            # id, x1, y1, x2, y2
            (0, 4.0, 4.0, 9.0, 9.0),    # overlaps; center (6.5,6.5) OUTSIDE
            (1, 1.0, 1.0, 2.0, 2.0),    # fully inside polygon
            (2, -5.0, -5.0, 15.0, 15.0),  # polygon fully inside rect
            (3, 11.0, 11.0, 12.0, 12.0),  # disjoint
            (4, 6.0, 6.0, 9.0, 9.0),    # disjoint (past the hypotenuse)
        ],
        "rid INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE",
    )
    flagged = rects.withColumn("overlaps", rect_overlap_count("x1", "y1", "x2", "y2", [tri]) > 0)
    got = {r["rid"]: r["overlaps"] for r in flagged.collect()}
    assert got == {0: True, 1: True, 2: True, 3: False, 4: False}


def test_overlap_excludes_what_center_test_keeps(spark):
    """The reference exclusion is overlap-based: a slot OVERLAPPING the
    blocked polygon without containing its center must be dropped by
    the strict filter even though the center-point filter keeps it."""
    from etl_sh_design_spark.operators.polygon import point_in_polygon, rect_overlap_count

    tri = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]
    # slot 0: rect (4,4)-(9,9) — overlaps the triangle, center outside it
    # slot 1: far away — kept by both
    slots = spark.createDataFrame(
        [(0, 4.0, 4.0, 9.0, 9.0, 6.5, 6.5), (1, 50.0, 50.0, 60.0, 60.0, 55.0, 55.0)],
        "slot_id INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE, cx DOUBLE, cy DOUBLE",
    )
    by_center = {r["slot_id"] for r in slots.filter(~point_in_polygon("cx", "cy", tri)).collect()}
    by_overlap = {
        r["slot_id"]
        for r in slots.filter(rect_overlap_count("x1", "y1", "x2", "y2", [tri]) == 0).collect()
    }
    assert by_center == {0, 1}   # center test wrongly keeps slot 0
    assert by_overlap == {1}     # overlap test excludes it
