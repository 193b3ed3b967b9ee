"""SparkSession builder tuned for the engine.

Local testing runs on ``local[N]`` (single JVM); the configuration is
chosen so the same code scales to a multi-executor cluster: AQE for
runtime re-planning and skew handling, Arrow for the (rare) pandas-UDF
boundary, UTC session timezone so results compare bit-for-bit against
the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_mem() -> str:
    """Default local-mode heap: a quarter of RAM, capped at 16g. A 48g
    heap measurably degraded identical queries 4-10x via GC churn on
    dimension-sized data; 16g is ample for every broadcast this engine
    does (largest: ~256MB GEMM matrix)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except OSError:  # no procfs: the pre-sizing default
        return "16g"
    return f"{min(16 * 1024, kb // 4 // 1024)}m"


def get_spark(
    app_name: str = "etl_sh_design_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    ui: bool = False,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to the core count — on a real cluster you would
    size this to ~2-3x total executor cores; AQE coalesces the excess
    at runtime either way. The driver heap defaults to a quarter of
    RAM capped at 16g; ``$SPARK_GRAFT_DRIVER_MEM`` overrides it.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_mem())
        # pandas UDF workers import the engine by reference: put the
        # package root on their path so they find it from any cwd
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.ui.enabled", "true" if ui else "false")
        # pure-inequality joins (containment join J1) fall back to
        # broadcast-nested-loop; allow a generous broadcast threshold so
        # the ~O(10k)-row corner tables always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_events(spark: SparkSession, sf_dir: str):
    """Read the events table, normalizing ``ts`` to a plain TIMESTAMP.

    The generator has shipped two physical encodings of ``ts``:

    * TIMESTAMP(NANOS) — Spark has no nanos type; with
      ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as
      INT64 nanos, which we truncate to microseconds — exactly what
      DuckDB's TIMESTAMP (µs) does.
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark 4 infers
      TIMESTAMP_NTZ, on which ``unix_micros`` / ``withWatermark``
      throw. The session timezone is pinned to UTC (above), so casting
      NTZ→TIMESTAMP is a bit-exact re-tag matching DuckDB's naive µs
      timestamps.

    Set at runtime so it also works under the driver's own SparkSession.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = dict(df.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        # Integer division: float division (ts/1000) loses precision for
        # int64 nanos (~1.7e18 > double's 53-bit mantissa) and lands ~2%
        # of rows on the wrong microsecond vs DuckDB's exact truncation.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the driver's parquet tables from ``sf_dir`` and register each
    as a temp view. Returns name -> DataFrame."""
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_events(spark, sf_dir) if name == "events" else spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
