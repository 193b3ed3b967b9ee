"""SparkSession builder tuned for the engine.

Local testing runs on ``local[N]`` (single JVM); the configuration is
chosen so the same code scales to a multi-executor cluster: AQE for
runtime re-planning and skew handling, Arrow for the (rare) pandas-UDF
boundary, UTC session timezone so results compare bit-for-bit against
the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from etl_sh_design_spark import memo

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


# session confs that change what parquet schema inference returns: the
# memoized schema is only reused under the values it was inferred with
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def _files_key(path: str) -> tuple:
    """(relative name, size, mtime_ns, inode) of every file of a
    parquet table: the file itself, or each file under a directory."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(os.path.join(d, f) for d, _, names in os.walk(path) for f in names)
    out = []
    for f in files:
        st = os.stat(f)
        out.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(out)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A fresh relation over the parquet table at ``path``.

    Inferring a parquet schema runs a Spark job that reads a footer.
    The schema is inferred once per session (``memo`` family
    ``table_schema``) and handed to the reader after that. The key is
    the absolute path, the inference confs and every file's name,
    size, mtime and inode, so a table rewritten in place is inferred
    again. Only the schema is shared: every call builds a new relation
    with new expression IDs, and nothing is cached. A location that is
    not a local path (a store URI, or a missing file) goes to Spark as
    is, so Spark resolves it and its errors stay Spark's own.
    """
    if not os.path.exists(path):
        return spark.read.parquet(path)
    path = os.path.abspath(path)
    key = (path, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS), _files_key(path))
    schema = memo.get(spark, "table_schema", key, lambda: spark.read.parquet(path).schema)
    return spark.read.schema(schema).parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The driver table ``name`` (``<sf_dir>/<name>.parquet``) as a
    fresh relation, its schema inferred once per session. The events
    table comes normalized by ``read_events``."""
    if name == "events":
        return read_events(spark, sf_dir)
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    df = _read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
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
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            df = read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
