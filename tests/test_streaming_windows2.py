"""Round-2 streaming goldens: sliding windows (stream == batch) and
watermarked streaming deduplication."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_sh_design_spark.session import read_events
from etl_sh_design_spark.streaming.windows import (
    read_events_stream,
    sliding_agg,
    streaming_sliding_counts,
)
from tests.conftest import SF_SMOKE


def test_streaming_sliding_equals_batch(spark):
    got = streaming_sliding_counts(spark, SF_SMOKE, query_name="sliding_t2")
    want = sliding_agg(read_events(spark, SF_SMOKE))
    g = {r["win_start_us"]: (r["n_events"], r["sum_value"]) for r in got.collect()}
    w = {r["win_start_us"]: (r["n_events"], r["sum_value"]) for r in want.collect()}
    assert g == w and len(g) > 0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark drops re-deliveries arriving in a
    later micro-batch: feed the same rows twice (two files, one file
    per trigger) and expect each event_id to survive exactly once."""
    ev = read_events(spark, SF_SMOKE).limit(500)
    src = str(tmp_path / "dedup_src")
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)  # duplicate delivery

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_t2")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
    finally:
        q.stop()
    assert n_batches >= 2
    out = spark.sql("SELECT event_id FROM dedup_t2")
    assert out.count() == ev.count()
    assert out.distinct().count() == ev.count()


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with a 10-minute watermark: an event
    arriving in a later micro-batch with event time far below the
    watermark must be DISCARDED (numRowsDroppedByWatermark counts it)
    and its already-finalized window keeps the on-time count. This is
    the late-data contract that makes streaming state finite. Note the
    late row must arrive in a batch AFTER the one that finalizes its
    window: within a batch, input is applied to state before eviction,
    using the watermark computed at batch start."""
    import datetime as dt
    import glob
    import os

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def rows(*specs):
        return [(i, t0 + dt.timedelta(minutes=m), 1.0) for i, m in specs]

    src = str(tmp_path / "late_src")
    # batch 1: window [10:00,10:10) gets 3 events; max ts 11:00 puts
    # the watermark at 10:50 for batch 2
    spark.createDataFrame(
        rows((1, 0), (2, 3), (3, 7), (4, 60)), schema
    ).coalesce(1).write.mode("overwrite").parquet(src)
    # batch 2: 11:30 advances the watermark to 11:20 and finalizes
    # (emits) the 10:00 window with n=3
    spark.createDataFrame(rows((6, 90)), schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # batch 3: event_id=5 at 10:05 is 75 min below the watermark -> dropped
    spark.createDataFrame(rows((5, 5)), schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    # force file order = batch order via mtimes (tie -> path order,
    # which is random uuids)
    parts = sorted(glob.glob(os.path.join(src, "part-*")), key=os.path.getmtime)
    for i, p in enumerate(parts):
        os.utime(p, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_t1")
        .start()
    )
    try:
        q.processAllAvailable()
        dropped = sum(
            p["stateOperators"][0]["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            if p["stateOperators"]
        )
    finally:
        q.stop()
    assert dropped == 1
    out = [r["n"] for r in spark.sql("SELECT * FROM late_t1").collect() if r["win_start"] == t0]
    # exactly one emission of the 10:00 window, with only on-time events
    assert out == [3]


def test_streaming_session_window_equals_batch(spark):
    """Session windows: the streaming query (stateful session merge
    across micro-batches) must equal the same session_agg run in batch
    mode over the full table."""
    from etl_sh_design_spark.streaming.windows import (
        session_agg,
        streaming_session_counts,
    )

    got = streaming_session_counts(spark, SF_SMOKE, query_name="session_t2")
    want = session_agg(read_events(spark, SF_SMOKE))
    g = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in got.collect()
    }
    w = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in want.collect()
    }
    assert g == w and len(g) > 0


def test_session_window_matches_gaps_islands_sessionization(spark):
    """Cross-formulation pin: session_window sessions must carry the
    same (user, session_start, n_events) triples as the lag-based
    gaps-and-islands batch sessionization (registry_relational)."""
    from etl_sh_design_spark.registry import queries
    from etl_sh_design_spark.streaming.windows import session_agg

    sw = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in session_agg(read_events(spark, SF_SMOKE)).collect()
    }
    gi = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in queries()["sessionization_events"](spark, SF_SMOKE).collect()
    }
    assert sw == gi and len(sw) > 0


def test_session_window_gap_boundary_semantics(spark):
    """Boundary pin for the session twin equivalence: an inter-event
    gap EXACTLY equal to the session gap merges (Spark's session
    windows are end-inclusive for merging: 1800s gap at '30 minutes'
    -> one session), one second over splits — which is precisely the
    lag-based twin's `diff > gap` rule, so the two formulations agree
    on the knife edge, not just on generic data."""
    import datetime

    base = datetime.datetime(2020, 1, 1)
    rows = [
        (1, base, 1.0),
        (1, base + datetime.timedelta(seconds=1800), 2.0),  # == gap: merge
        (2, base, 1.0),
        (2, base + datetime.timedelta(seconds=1801), 2.0),  # > gap: split
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")

    from etl_sh_design_spark.streaming.windows import session_agg

    got = sorted(
        (r["user_id"], r["n_events"]) for r in session_agg(df).collect()
    )
    assert got == [(1, 2), (2, 1), (2, 1)]
