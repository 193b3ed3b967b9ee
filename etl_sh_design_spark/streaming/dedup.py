"""Streaming ingest dedup over the documents table (training-data-
pipeline extension, labeled like the rest of streaming/).

The shape a 100 TB/day ingest actually needs: drop near-exact
duplicate documents (identical MinHash signature — exact dups plus
boilerplate re-crawls) IN-STREAM, before they ever land in the lake,
with watermark-bounded state so the dedup store doesn't grow with the
corpus. Reference scope note: the reference engine is batch-only
(SURVEY.md §2.9); this module is the engine's labeled streaming
extension of its own batch dedup family (operators/dedup.py).

Why the MAP-SIDE signature is load-bearing here: Structured Streaming
permits only map-only expressions between the source and a stateful
operator in append mode without chaining state stores.
`minhash_signatures_mapside` computes the whole k-hash signature in
one projection (no explode/groupBy), so the ONLY stateful operator in
the stream is `dropDuplicatesWithinWatermark` itself — state is one
(sig_key -> expiry) entry per distinct signature inside the watermark
horizon, dropped as event time passes. The batch twin of the stream
output is registry_dedup.signature_dedup_groups (full DuckDB oracle);
stream == batch is asserted by tests/test_streaming_dedup.py.

Event time: the driver's documents table carries no timestamp, so
ingest order is modeled deterministically as doc_id seconds since
epoch — stand-in for the crawl/ingest timestamp a real feed carries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sh_design_spark.operators.dedup import minhash_signatures_mapside
from etl_sh_design_spark.session import read_table


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (schema from
    `session.read_table`, inferred once per session; pathGlobFilter
    scopes the directory listing — same pattern as
    windows.read_events_stream)."""
    schema = read_table(spark, sf_dir, "documents").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def with_signature_key(docs: DataFrame, k: int = 8, n: int = 3) -> DataFrame:
    """Shared batch/stream transformation: every input column plus a
    deterministic near-exact dedup key (the k-hash MinHash signature
    rendered as one string — dropDuplicates keys must be scalar).
    Docs with no n-gram are dropped (cannot carry a signature)."""
    sig = minhash_signatures_mapside(docs, k=k, n=n, keep_cols=True)
    return sig.withColumn(
        "sig_key", F.concat_ws(",", F.expr("transform(sig, x -> CAST(x AS STRING))"))
    ).drop("sig", "toks", "grams")


def streaming_signature_dedup(
    spark: SparkSession,
    sf_dir: str,
    k: int = 8,
    n: int = 3,
    watermark: str = "10 minutes",
    query_name: str = "signature_dedup",
) -> DataFrame:
    """Near-exact streaming dedup: first-arriving document per MinHash
    signature survives; later arrivals inside the watermark horizon are
    dropped. Real Structured Streaming query into a memory sink
    (append mode — survivors are emitted as they are admitted, the
    ingest-pipeline contract); returns the drained result.

    Which PHYSICAL row survives a within-micro-batch tie is
    arbitrary (partition order), so cross-engine/golden comparisons
    key on the emitted sig_key SET — deterministic — not survivor
    doc_ids; the batch twin (registry_dedup.signature_dedup_groups)
    accordingly pins group membership, not survivor choice."""
    docs = read_documents_stream(spark, sf_dir).withColumn(
        "ingest_ts", F.timestamp_seconds(F.col("doc_id"))
    )
    keyed = with_signature_key(docs, k=k, n=n).withWatermark("ingest_ts", watermark)
    kept = keyed.dropDuplicatesWithinWatermark(["sig_key"])
    out = kept.select("doc_id", "sig_key")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
