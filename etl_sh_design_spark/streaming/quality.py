"""Streaming ingest quality gate over the documents table
(training-data-pipeline extension, labeled like the rest of
streaming/).

The second stage a 100 TB/day ingest needs after dedup
(streaming/dedup.py): score every incoming document with the
composite heuristic quality signal (functions/text.quality_score —
length, punctuation density, stopword rate) IN-STREAM, drop the
low-quality tail before it lands in the lake, and keep a live
per-(lang, source) admission scoreboard so corpus drift is visible
at ingest time rather than at the next batch audit.

Reference scope note: the reference engine is batch-only (SURVEY.md
§2.9); this module is the engine's labeled streaming extension of its
own batch text-quality family (registry_quality.text_quality,
registry_quality.quality_filter_chain).

Streaming-safety shape: `quality_score` is a pure higher-order
`F.*` expression chain — map-only, no explode/groupBy — so the gate
itself (filter) is stateless and the ONLY stateful operator is the
scoreboard aggregation, keyed by (lang, source): a BOUNDED key space
(languages × feeds), so complete-mode state is O(|lang|·|source|)
regardless of corpus size. Batch and streaming share ONE
transformation (`gate_summary`), and stream == batch is asserted by
tests/test_streaming_quality.py; the batch twin carries a full DuckDB
oracle (registry_quality.quality_gate_admissions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sh_design_spark.functions import text
from etl_sh_design_spark.streaming.dedup import read_documents_stream

DEFAULT_THRESHOLD = 0.6  # splits the driver corpus near its median


def admitted_docs(docs: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """Shared batch/stream gate: every input column plus the rounded
    composite `quality` score; documents below the threshold are
    dropped. Map-only (scan -> project -> filter), so it composes in
    front of any downstream stateful operator in append mode."""
    return docs.withColumn("quality", text.quality_score("text")).where(
        F.col("quality") >= F.lit(threshold)
    )


def gate_summary(docs: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """Shared batch/stream transformation: per-(lang, source) admission
    counts and mean admitted quality. Key space is bounded by the
    lang/source vocabularies, so streaming state does not grow with
    the corpus."""
    # The mean is computed over exact 6-dp micro-units (each per-doc
    # quality is already round(x, 6), so round(q * 1e6) is an exact
    # integer): the sum is then order-independent, so the cross-engine
    # hash cannot land on a round-half boundary the way round(avg(..))
    # over non-associative double summation can (observed: one
    # 0.686152 vs 0.686153 row at sf0.001).
    micro = F.round(F.col("quality") * 1e6).cast("bigint")
    return (
        admitted_docs(docs, threshold)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_admitted"),
            F.round(
                F.sum(micro) / (F.count(F.lit(1)) * F.lit(1e6)), 6
            ).alias("avg_quality"),
            F.round(F.min("quality"), 6).alias("min_quality"),
        )
    )


def streaming_gated_dedup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = DEFAULT_THRESHOLD,
    k: int = 8,
    watermark: str = "10 minutes",
    query_name: str = "gated_dedup",
) -> DataFrame:
    """The composed ingest front-end as ONE stream: quality gate then
    near-exact signature dedup. Legal in append mode precisely because
    the gate (and the signature projection) are map-only — the
    composition still contains exactly one stateful operator
    (`dropDuplicatesWithinWatermark`). This is the shape a real
    100 TB/day ingest runs: score -> drop the low tail -> drop
    near-exact re-crawls -> land survivors, one pass, bounded state.

    Both constituents are independently driver-oracled
    (quality_gate_admissions, signature_dedup_groups); the composition
    golden (tests/test_streaming_quality.py) pins the stream's
    survivor-signature universe to the batch composition of the same
    two shared transformations."""
    from etl_sh_design_spark.streaming.dedup import with_signature_key

    docs = read_documents_stream(spark, sf_dir).withColumn(
        "ingest_ts", F.timestamp_seconds(F.col("doc_id"))
    )
    gated = admitted_docs(docs, threshold)
    keyed = with_signature_key(gated, k=k).withWatermark("ingest_ts", watermark)
    kept = keyed.dropDuplicatesWithinWatermark(["sig_key"]).select(
        "doc_id", "sig_key", "quality"
    )
    q = (
        kept.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def start_gated_ingest(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema,
    threshold: float = DEFAULT_THRESHOLD,
    k: int = 8,
    watermark: str = "10 minutes",
):
    """Production-shaped ingest entry point: file source -> quality
    gate -> signature dedup -> exactly-once parquet sink, with offsets
    AND dedup state checkpointed. Returns the RUNNING StreamingQuery
    (caller drains/stops). Restart-safe by construction: calling again
    with the same checkpoint_dir resumes the file-source offsets
    (already-listed files are not re-read) and recovers the
    dropDuplicatesWithinWatermark state store, so a near-exact
    duplicate delivered AFTER a crash/restart is still dropped — the
    golden that pins this is
    tests/test_streaming_quality.py::test_gated_ingest_restart_resumes_state.
    The memory-sink variants above exist for drained stream==batch
    goldens; this is the durable-sink form a real deployment runs
    (memory sinks cannot recover from a checkpoint, parquet sinks
    are exactly-once via the sink's own commit log)."""
    from etl_sh_design_spark.streaming.dedup import with_signature_key

    src = spark.readStream.schema(schema).parquet(src_dir)
    docs = src.withColumn("ingest_ts", F.timestamp_seconds(F.col("doc_id")))
    gated = admitted_docs(docs, threshold)
    keyed = with_signature_key(gated, k=k).withWatermark("ingest_ts", watermark)
    kept = keyed.dropDuplicatesWithinWatermark(["sig_key"]).select(
        "doc_id", "sig_key", "quality"
    )
    return (
        kept.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_quality_gate(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = DEFAULT_THRESHOLD,
    query_name: str = "quality_gate",
) -> DataFrame:
    """The quality-gate scoreboard as a real Structured Streaming query
    into a memory sink (complete mode — the scoreboard is a live
    upserted table, the monitoring contract); returns the drained
    result."""
    docs = read_documents_stream(spark, sf_dir)
    agg = gate_summary(docs, threshold)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
