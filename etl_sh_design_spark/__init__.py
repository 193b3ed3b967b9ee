"""etl_sh_design_spark — a PySpark-native analytics engine.

Re-expresses the query and data-processing capabilities of the reference
detector-layout analytics pipeline (danbarto/ETL-SH-Design, read-only at
/root/reference) as idiomatic Spark DataFrame/SQL pipelines, plus the
large-scale training-data-pipeline extensions (dedup, similarity search,
text analysis, multimodal plumbing).

Layout
------
- ``session``    : tuned SparkSession builder
- ``datagen``    : deterministic detector fixtures (sensors/rays/layers)
                   expressible identically in Spark and ANSI SQL
- ``functions``  : scalar expression library (coordinate transforms,
                   sensor physics, text metrics)
- ``operators``  : reusable relational operators (histogram/profile/
                   efficiency, containment join, window idioms, dedup,
                   similarity, partition DP, BV grouping)
- ``plans``      : end-to-end pipelines mirroring the reference's entry
                   points (MC acceptance, tiling, occupancy, bias voltage)
- ``sources``    : TSV / YAML / CSV / Parquet scans and sinks (batch
                   only, like the reference)
"""

__version__ = "0.1.0"
