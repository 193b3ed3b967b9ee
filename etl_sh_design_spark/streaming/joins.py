"""Stream-stream interval join (§2.9 extension, labeled as such).

The funnel query — click followed by purchase by the same user within
10 minutes — as a real Structured Streaming join: both sides are
watermarked streams, the join condition pairs the user_id equi-key
with an event-time range, and Spark bounds the join state by the
watermark + range (clicks are droppable once no future purchase can
land inside their window). The batch twin with the DuckDB oracle is
`registry_relational.funnel_interval_join`.

At scale the equi-key shuffles both streams on user_id once; state per
key is the in-range buffer, which the 10-minute bound keeps finite —
exactly the property the batch twin's docstring promises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sh_design_spark.session import read_table
from etl_sh_design_spark.streaming.windows import read_events_stream


def streaming_funnel_pairs(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "10 minutes",
    watermark: str = "1 hour",
    query_name: str = "funnel_pairs",
) -> DataFrame:
    """Run the click->purchase interval join as a streaming query into
    a memory sink (append mode); returns the drained result with
    columns (user_id, c_us, p_us)."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select("user_id", F.col("ts").alias("c_ts"))
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"user_id = p_user AND p_ts > c_ts AND p_ts <= c_ts + interval {gap}"
        ),
    ).select(
        "user_id",
        F.unix_micros("c_ts").alias("c_us"),
        F.unix_micros("p_ts").alias("p_us"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def streaming_enriched_segment_counts(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "enriched_counts",
) -> DataFrame:
    """Stream-static enrichment: the events stream joined to the static
    customer dimension (user_id = c_custkey) to attach the market
    segment, then a streaming aggregation of event counts + value sum
    per segment (complete mode into a memory sink).

    The static side is read fresh per micro-batch and broadcast (it
    sits under the autoBroadcastJoinThreshold), so the stream is never
    shuffled for the join — the canonical dimension-enrichment shape.
    At scale the dimension re-read per batch is the mechanism that
    picks up slowly-changing dims without restarting the query."""
    customers = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        read_events_stream(spark, sf_dir)
        .join(F.broadcast(customers), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    q = (
        enriched.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
