"""Streaming windowed aggregations over the events table.

Batch and streaming share ONE transformation (`tumbling_agg`), applied
to either a static or a `readStream` DataFrame — the Structured
Streaming model's whole point. The streaming variant adds a watermark
so state for closed windows is dropped (bounded state at 100 TB/day
event volumes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_sh_design_spark.session import _read_parquet

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos (nanosAsLong); legacy only
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def tumbling_agg(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Shared batch/stream transformation: tumbling-window counts and
    value sums per event_type."""
    return (
        events.groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_agg(events: DataFrame, window: str = "10 minutes", slide: str = "5 minutes") -> DataFrame:
    """Shared batch/stream transformation: sliding-window counts and
    value sums (each event replicated into window/slide windows
    map-side; shuffle is |windows|-sized). Batch twin with a DuckDB
    oracle: registry_relational.sliding_window_events."""
    return (
        events.groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "n_events",
            "sum_value",
        )
    )


def streaming_sliding_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
    query_name: str = "sliding_counts",
) -> DataFrame:
    """Sliding-window aggregation as a real Structured Streaming query
    into a memory sink (complete mode); returns the drained result."""
    events = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    agg = sliding_agg(events, window, slide)
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


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (driver tables are
    single files; pathGlobFilter scopes the directory listing).

    The stream schema is the batch reader's physical schema (inferred
    once per session, like every driver table's) so both physical
    ``ts`` encodings the generator has shipped (INT64 nanos,
    TIMESTAMP(MICROS) NTZ) are normalized to a plain TIMESTAMP exactly
    like ``session.read_events``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    physical = _read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    raw = (
        spark.readStream.schema(physical)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        # integer division — same precision fix as session.read_events
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def streaming_tumbling_counts(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "tumbling_counts",
) -> DataFrame:
    """Run the tumbling aggregation as a real Structured Streaming
    query into a memory sink (complete mode), drain it, and return the
    result as a DataFrame. Used by tests to prove batch == stream."""
    events = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    agg = tumbling_agg(events, duration)
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


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Shared batch/stream transformation: per-user session windows
    (events merge while consecutive gaps stay under `gap`). The
    streaming-native counterpart of the batch gaps-and-islands
    sessionization (registry_relational.sessionization_events): Spark's
    session_window merges as long as the next event starts before
    prev_ts + gap, i.e. a gap strictly greater than `gap` splits —
    identical boundaries to the lag-based batch twin."""
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def streaming_session_counts(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    query_name: str = "session_counts",
) -> DataFrame:
    """Session-window aggregation as a real Structured Streaming query
    (state merges sessions across micro-batches) into a memory sink;
    returns the drained result. Watermark bounds session state at real
    scale: closed sessions age out of the store."""
    events = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    agg = session_agg(events, gap)
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
