"""session.get_spark deploys where it runs: its pandas workers import
the engine from any working directory, with the package on the
driver's sys.path only."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

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

