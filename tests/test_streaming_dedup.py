"""Streaming ingest dedup goldens (streaming/dedup.py): the map-side
MinHash signature primitive and the watermark-bounded near-exact
document dedup built on it.

Contract chain: minhash_signatures_mapside == minhash_signatures_wide
(bit-identical per-doc minima) -> the stream's survivor-key set ==
the batch distinct-signature universe (registry_dedup's oracled twins)
-> re-delivered documents in a LATER micro-batch are still dropped
while inside the watermark horizon."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_sh_design_spark.operators.dedup import (
    minhash_signatures_mapside,
    minhash_signatures_wide,
)
from etl_sh_design_spark.streaming.dedup import (
    streaming_signature_dedup,
    with_signature_key,
)
from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(SF_SMOKE + "/documents.parquet")


def test_mapside_signatures_equal_wide(spark):
    """The zero-shuffle per-row form and the shared-vocabulary join
    form must produce bit-identical signatures for every doc."""
    docs = _docs(spark)
    wide = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures_wide(docs, k=8).collect()}
    mapside = {
        r["doc_id"]: list(r["sig"]) for r in minhash_signatures_mapside(docs, k=8).collect()
    }
    assert wide == mapside and len(wide) > 0


def test_mapside_signature_plan_has_no_exchange(spark):
    """The map-side signature is scan -> project -> filter: any
    Exchange in the plan means the formulation regressed to a shuffle
    (and would be illegal in front of the streaming stateful dedup)."""
    plan = minhash_signatures_mapside(_docs(spark), k=8)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_mapside_signature_pushed_filter_is_cheap(spark):
    """Regression (round 8): the row filter must push to the scan in a
    form that references the token chain ONCE. Filtering on
    size(grams) > 0 instead gets the whole gram `transform` inlined
    into the scan-level predicate, whose lambda indexes toks 3x per
    element — the scan then re-tokenizes each document ~3x-grams
    times (measured 15x wall at sf0.1, growing with document length,
    so it would ship to the 100 TB plan too)."""
    df = minhash_signatures_mapside(_docs(spark), k=8)
    physical = df._jdf.queryExecution().executedPlan().toString()
    filter_lines = [l for l in physical.splitlines() if "Filter" in l]
    assert filter_lines, physical
    for line in filter_lines:
        assert "transform(" not in line, (
            "gram expression inlined into a pushed filter:\n" + line
        )


def test_streaming_signature_dedup_equals_batch(spark):
    """Stream survivors (append mode) carry exactly the batch
    distinct-signature universe, one row per signature."""
    got = streaming_signature_dedup(spark, SF_SMOKE, query_name="sigdedup_t1")
    batch_keys = {
        r["sig_key"] for r in with_signature_key(_docs(spark), k=8).select("sig_key").collect()
    }
    stream_keys = {r["sig_key"] for r in got.collect()}
    assert stream_keys == batch_keys
    assert got.count() == len(batch_keys)  # one survivor per signature


def test_streaming_signature_dedup_across_microbatches(spark, tmp_path):
    """Re-delivering the whole corpus in a SECOND micro-batch (one
    file per trigger) must not re-emit any signature: the state store
    still holds every key inside the watermark horizon."""
    docs = _docs(spark).limit(200)
    src = str(tmp_path / "docs_redelivery")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    docs.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ingest_ts", F.timestamp_seconds(F.col("doc_id")))
    )
    keyed = with_signature_key(stream, k=8).withWatermark("ingest_ts", "10 minutes")
    q = (
        keyed.dropDuplicatesWithinWatermark(["sig_key"])
        .select("doc_id", "sig_key")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sigdedup_t2")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 2
    out = spark.sql("SELECT sig_key FROM sigdedup_t2")
    want = with_signature_key(docs, k=8).select("sig_key").distinct().count()
    assert out.count() == want  # every re-delivery dropped
    assert out.distinct().count() == want
