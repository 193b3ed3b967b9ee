"""Sources & sinks (SURVEY.md §2.1).

- S1 TSV module-centers scan: explicit schema, PERMISSIVE mode with a
  corrupt-record column (replacing the reference's per-row try/except,
  realistic_layout_export.ipynb cell 10), trimmed column names.
- S3 YAML layout-database scan: driver-side yaml.safe_load of the
  nested {layout: {disk: {face: [(x, y), ...]}}} map, flattened to rows
  (the dict is dimension-sized; at scale convert once to Parquet).
- S4 YAML layout sink (small dimension export only).
- S5 mirrored-centers CSV sink: (x, y) U (-x, y).
- S6 Parquet result cache: append partitioned by run_name, re-read by
  run (replaces the reference's pickle read-modify-write,
  dee_geometry.py:140-149).
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def reference_dir() -> str:
    """Root of the read-only reference checkout used by the parity
    queries/tests (env SPARK_GRAFT_REF_DIR, default /root/reference).
    Callers must tolerate the directory being absent."""
    return os.environ.get("SPARK_GRAFT_REF_DIR", "/root/reference")


FACE_SCHEMA = T.StructType(
    [
        T.StructField("module", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def read_face_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S1: tab-separated module centers (header `Module X Y Z`), bad
    rows captured in _corrupt_record instead of thrown away silently.

    The reference's shipped `data/Face N.txt` files carry TRAILING
    EMPTY COLUMNS (the header line ends in tabs); a fixed 4-column
    schema under PERMISSIVE marks every such row corrupt. Layout files
    are dimension-sized by contract, so the header is sniffed
    driver-side and the schema padded with throwaway string columns
    that are dropped after the parse — corrupt capture still applies
    to the data columns."""
    n_extra = 0
    local = path[len("file://") :] if path.startswith("file://") else path
    try:
        with open(local) as fh:
            n_extra = max(0, len(fh.readline().rstrip("\n").split("\t")) - 4)
    except OSError:
        # Glob/dir/remote path: assume the exact 4-column shape. Padded
        # files read this way would mark every row corrupt, so leave a
        # diagnosable trace instead of failing silently.
        import logging

        logging.getLogger(__name__).debug(
            "read_face_tsv: header sniff unavailable for %s; "
            "assuming 4 columns (padded files would scan all-corrupt)",
            path,
        )
    pads = [T.StructField(f"_pad{i}", T.StringType()) for i in range(n_extra)]
    schema = T.StructType(FACE_SCHEMA.fields[:-1] + pads + [FACE_SCHEMA.fields[-1]])
    df = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .csv(path)
    )
    return df.drop(*[f"_pad{i}" for i in range(n_extra)])


def read_face_tsv_sql(path: str, face: int) -> str:
    """DuckDB twin of `read_face_tsv` + `split_corrupt`: the clean
    (face, module, x, y) rows, the padded columns read as text and
    unparseable rows dropped by try_cast."""
    return f"""
  SELECT {face} AS face,
         try_cast(m AS BIGINT) AS module,
         try_cast(x AS DOUBLE) AS x, try_cast(y AS DOUBLE) AS y
  FROM read_csv('{path}', delim='\t',
    header=false, skip=1,
    columns={{'m':'VARCHAR','x':'VARCHAR','y':'VARCHAR','z':'VARCHAR',
              'p1':'VARCHAR','p2':'VARCHAR','p3':'VARCHAR'}})
  WHERE try_cast(m AS BIGINT) IS NOT NULL AND try_cast(x AS DOUBLE) IS NOT NULL
    AND try_cast(y AS DOUBLE) IS NOT NULL AND try_cast(z AS DOUBLE) IS NOT NULL
"""


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Clean rows vs quarantined rows (the skip-and-report pattern).

    Spark disallows filtering on ONLY the corrupt column of a raw CSV
    scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache the parsed result
    first, as the error message itself prescribes."""
    df = df.cache()
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return clean, bad


@lru_cache(maxsize=None)
def load_yaml_layout_rows(path: str) -> list[tuple[str, str, str, float, float]]:
    """Driver-side flatten of a nested YAML layout database to
    (layout, disk, face, x, y) tuples, memoized per path (the parse is
    ~1 s for the reference's shipped files and several consumers — the
    Spark scan AND the DuckDB-oracle VALUES builder — need the same
    rows).

    The reference's shipped `layouts/database_*.yaml` serialize centers
    with `!!python/tuple` tags (python yaml.dump of tuples), which the
    safe loader rejects. A SafeLoader subclass adds ONLY a tuple
    constructor — still no arbitrary-object construction."""
    import yaml

    class _LayoutLoader(yaml.SafeLoader):
        pass

    _LayoutLoader.add_constructor(
        "tag:yaml.org,2002:python/tuple",
        lambda loader, node: tuple(loader.construct_sequence(node)),
    )

    with open(path) as fh:
        data = yaml.load(fh, Loader=_LayoutLoader)
    rows = []
    for layout, disks in data.items():
        for disk, faces in disks.items():
            for face, centers in faces.items():
                for x, y in centers:
                    rows.append((str(layout), str(disk), str(face), float(x), float(y)))
    return rows


def derive_sensor_centers(
    clean: DataFrame, sensor_gap: float = 0.25, sensor_y: float = 22.0
) -> DataFrame:
    """The export pipeline's module->sensor-center derivation
    (realistic_layout_export.ipynb cell 7 `makeModule_full`): each
    module center (x, y) emits its two sensor centers at
    y +- (sensor_gap + sensor_y/2), upper first — the exact emit
    order the shipped `database_new.yaml` carries. Map-only."""
    off = sensor_gap + sensor_y / 2
    return clean.select(
        "module",
        F.posexplode(F.array(F.col("y") + off, F.col("y") - off)).alias("slot", "cy"),
        F.col("x").alias("cx"),
    ).select("module", "slot", "cx", "cy")


def export_layout_database(
    spark: SparkSession, face_paths: dict[tuple[str, str], str], layout: str = "new"
) -> dict:
    """S1 -> center derivation -> nested layout dict, the engine's
    re-expression of the reference's export pipeline
    (realistic_layout_export.ipynb cells 2-13): read each face's
    module-center TSV (quarantining bad rows), derive the two sensor
    centers per module in file order, and assemble
    {layout: {disk: {face: [(x, y), ...]}}} ready for the S4 YAML
    sink. Dimension-sized by contract (driver-side collect, same
    class as write_yaml_layout)."""
    nested: dict = {layout: {}}
    for (disk, face), path in sorted(face_paths.items()):
        clean, _ = split_corrupt(read_face_tsv(spark, path))
        # single-file dimension scan: collect preserves file order
        rows = derive_sensor_centers(clean).collect()
        nested[layout].setdefault(disk, {})[face] = [
            (r["cx"], r["cy"]) for r in rows
        ]
    return nested


def read_yaml_layout(spark: SparkSession, path: str) -> DataFrame:
    """S3: nested YAML layout database -> (layout, disk, face, x, y)
    rows. Dimension-sized; loaded driver-side then parallelized."""
    return spark.createDataFrame(
        load_yaml_layout_rows(path),
        "layout STRING, disk STRING, face STRING, x DOUBLE, y DOUBLE",
    )


def write_yaml_layout(df: DataFrame, path: str) -> None:
    """S4: export a centers DataFrame back to the nested YAML shape.
    Only valid for dimension-sized data (collects to the driver)."""
    import yaml

    nested: dict = {}
    for row in df.select("layout", "disk", "face", "x", "y").collect():
        nested.setdefault(row["layout"], {}).setdefault(row["disk"], {}).setdefault(
            row["face"], []
        ).append([row["x"], row["y"]])
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        yaml.safe_dump(nested, fh)


def write_mirrored_centers_csv(df: DataFrame, path: str) -> None:
    """S5: (x, y) U (-x, y) single-file CSV (dee_geometry.py:457-461
    semantics). coalesce(1) is intentional: the export is tiny."""
    mirrored = df.select("x", "y").unionByName(
        df.select((-F.col("x")).alias("x"), "y")
    )
    mirrored.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def cache_result(df: DataFrame, cache_dir: str, run_name: str) -> None:
    """S6: append a run's result partitioned by run_name — replaces the
    reference's pickle read-modify-write with an idempotent partition
    overwrite (safe to re-run the same run_name)."""
    (
        df.withColumn("run_name", F.lit(run_name))
        .repartition(1)
        .write.mode("overwrite")
        .partitionBy("run_name")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(cache_dir)
    )


def read_cached_runs(spark: SparkSession, cache_dir: str, runs: list[str]) -> DataFrame:
    """S6/J9: load selected cached runs; partition pruning keeps the
    scan to exactly the requested run_name directories."""
    df = spark.read.parquet(cache_dir)
    return df.filter(F.col("run_name").isin(runs))


def write_zordered(
    df: DataFrame, path: str, zcol: str, n_files: int = 8
) -> None:
    """Data-layout sink: range-partition on the (already computed)
    Z-order key and sort within each file before writing, so every
    parquet file covers a tight, near-disjoint z-range. Downstream
    range predicates on EITHER interleaved dimension then prune whole
    files/row-groups from their footer min/max stats — the layout step
    that makes multi-dimensional filtering cheap at 100 TB (tested by
    `tests/test_zorder_layout.py` against the actual footer stats)."""
    (
        df.repartitionByRange(n_files, F.col(zcol))
        .sortWithinPartitions(zcol)
        .write.mode("overwrite")
        .parquet(path)
    )

