"""session.get_spark deploys where it runs: its pandas workers import
the engine from any working directory, with the package on the
driver's sys.path only. session.read_table infers each table's schema
once per session and still returns a fresh relation per call."""

from __future__ import annotations

import os
import pathlib
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_sh_design_spark.registry import _t, queries
from etl_sh_design_spark.session import read_table
from tests.conftest import SF_SMOKE

REPO = pathlib.Path(__file__).resolve().parents[1]

_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from etl_sh_design_spark.operators.packing import greedy_pack
from etl_sh_design_spark.session import get_spark

spark = get_spark(app_name="cwd-probe", cpus=2)
docs = spark.range(200).select(
    F.col("id").alias("doc_id"), (F.col("id") % 50 + 1).alias("n_tokens")
)
print("chunks", greedy_pack(docs, budget=128, n_shards=4).count())
spark.stop()
"""


def test_pandas_workers_import_engine_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=str(REPO))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    n = int(out.stdout.split("chunks", 1)[1].split()[0])
    assert n > 0


def _probe_jobs(spark, group: str, build) -> int:
    """Number of schema-probe (`parquet at`) jobs ``build()`` runs,
    attributed by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = spark._jsc.sc().statusStore().jobsList(None)
    jobs = [jobs.apply(i) for i in range(jobs.size())]
    return sum(
        1
        for j in jobs
        if j.jobGroup().isDefined()
        and j.jobGroup().get() == group
        and j.name().startswith("parquet at ")
    )


def test_second_construction_runs_no_footer_probe(spark, tmp_path):
    for t in ("region", "nation", "customer", "orders", "lineitem"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    q5 = queries()["q5_region_revenue"]
    assert _probe_jobs(spark, "reader::first", lambda: q5(spark, str(tmp_path))) == 5
    assert _probe_jobs(spark, "reader::again", lambda: q5(spark, str(tmp_path))) == 0


def test_table_rewritten_in_place_is_read_with_its_new_column(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3, 4], "b": ["x", "y"]}), path)
    df = read_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, "x"), (4, "y")]


def test_schema_is_inferred_again_under_other_inference_confs(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), str(tmp_path / "t.parquet"))
    assert dict(read_table(spark, str(tmp_path), "t").dtypes) == {"b": "binary"}
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert dict(read_table(spark, str(tmp_path), "t").dtypes) == {"b": "string"}
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")


def test_self_join_of_two_reads_stays_unambiguous(spark):
    """Two reads of one table are two relations: a self-join written
    with column objects pairs distinct orders of one customer, exactly
    as two plain parquet reads do."""

    def pairs(a, b):
        j = a.join(b, (a.o_custkey == b.o_custkey) & (a.o_orderkey < b.o_orderkey))
        return sorted(tuple(r) for r in j.select(a.o_orderkey, b.o_orderkey).collect())

    got = pairs(_t(spark, SF_SMOKE, "orders"), _t(spark, SF_SMOKE, "orders"))
    plain = f"{SF_SMOKE}/orders.parquet"
    assert got == pairs(spark.read.parquet(plain), spark.read.parquet(plain))
    assert got and all(x < y for x, y in got)


def test_uri_location_goes_to_sparks_reader(spark, tmp_path):
    """A location that is not a local path (a ``file:`` URI here, a
    cluster store in production) is handed to Spark as is."""
    got = read_table(spark, f"file://{SF_SMOKE}", "region").collect()
    assert sorted(got) == sorted(read_table(spark, SF_SMOKE, "region").collect())
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        read_table(spark, f"file://{tmp_path}", "nope")
