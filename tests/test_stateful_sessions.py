"""Tests for session windows, streaming dedup, and sketch-aggregate
accuracy."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.operators.aggregations import sessionize


def T(minute: int, hour: int = 0) -> datetime:
    return datetime(2024, 1, 1, hour, minute)


def test_sessionize_gap_semantics(spark):
    rows = [
        ("u1", T(0)), ("u1", T(5)), ("u1", T(9)),      # one session (gaps < 10m)
        ("u1", T(30)), ("u1", T(35)),                   # second session
        ("u2", T(0)),                                   # singleton
    ]
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    out = sorted(
        (r["user"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(df, 600, keys=["user"], ts_col="ts").collect()
    )
    assert out == [
        ("u1", T(0), T(9), 3),
        ("u1", T(30), T(35), 2),
        ("u2", T(0), T(0), 1),
    ]


def test_sessionize_exact_gap_merges(spark):
    # Spark coalesces touching session windows: an exactly-10-minute gap
    # still merges (the oracle breaks strictly at > gap to mirror this).
    df = spark.createDataFrame(
        [("u", T(0)), ("u", T(10)), ("u", T(21))], "user string, ts timestamp"
    )
    out = sessionize(df, 600, keys=["user"]).collect()
    assert sorted(r["n_events"] for r in out) == [1, 2]


def test_approx_sketches_accuracy(spark):
    import random

    rng = random.Random(3)
    rows = [(rng.randrange(1000), float(rng.gauss(50, 10))) for _ in range(20_000)]
    df = spark.createDataFrame(rows, "user_id long, value double")
    got = df.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("au"),
        F.percentile_approx("value", 0.5, 10_000).alias("p50"),
    ).collect()[0]
    exact_users = df.select("user_id").distinct().count()
    exact_p50 = df.agg(F.percentile("value", F.lit(0.5))).collect()[0][0]
    assert got["au"] == pytest.approx(exact_users, rel=0.05)
    assert got["p50"] == pytest.approx(exact_p50, abs=0.5)


def test_sessionize_streaming_merges_across_batches(spark, tmp_path):
    """Session windows hold state across micro-batches: an event arriving in
    a later batch inside the gap extends the open session instead of
    starting a new one."""
    src = str(tmp_path / "sess_src")
    schema = "user string, ts timestamp"
    spark.createDataFrame(
        [("u1", T(0)), ("u1", T(5))], schema
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = sessionize(stream, 600, keys=["user"])
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.sql("select * from sessions").collect()
        assert [(r["n_events"]) for r in first] == [2]

        # T(8) is within the gap of the open session -> merge; T(0,hour=3)
        # is far outside -> new session
        spark.createDataFrame(
            [("u1", T(8)), ("u1", T(0, hour=3))], schema
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        (r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from sessions").collect()
    )
    assert rows == [(T(0), T(8), 3), (T(0, hour=3), T(0, hour=3), 1)]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Built-in streaming dedup: duplicate event_ids arriving in later
    micro-batches inside the watermark are dropped exactly once."""
    src = str(tmp_path / "dedup_src")
    schema = "event_id long, ts timestamp, value double"
    spark.createDataFrame(
        [(1, T(0), 1.0), (2, T(1), 2.0), (1, T(0), 1.0)], schema
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [(2, T(1), 2.0), (3, T(2), 3.0)], schema  # 2 is a cross-batch dup
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r["event_id"] for r in spark.sql("select * from dedup_stream").collect())
    assert got == [1, 2, 3]


def test_streaming_session_windows_empty_events(spark, tmp_path, sf_dir):
    """An empty events table short-circuits to an empty result (matching the
    batch session_window_users) instead of raising on the None max-ts when
    building the watermark-flush sentinel."""
    from ambient_sound_analysis_api_spark.registry import (
        q_streaming_session_windows,
    )

    empty_sf = str(tmp_path / "sf_empty")
    (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .limit(0)
        .write.parquet(f"{empty_sf}/events.parquet")
    )
    out = q_streaming_session_windows(spark, empty_sf)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "user_id", "session_start_us", "session_end_us", "n_events",
    ]
