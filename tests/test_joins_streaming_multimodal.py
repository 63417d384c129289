from __future__ import annotations

import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.operators.joins import (
    asof_join,
    range_join_buckets,
)
from ambient_sound_analysis_api_spark.operators.multimodal import (
    documents_as_media,
    extract_features,
)

T = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731


def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [(1, "k", T(5)), (2, "k", T(10)), (3, "k", T(2)), (4, "x", T(5))],
        "event_id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("k", T(3), 100.0), ("k", T(10), 200.0), ("k", T(20), 300.0)],
        "k string, rts timestamp, price double",
    )
    out = {
        r["event_id"]: r["price"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts",
            right_values=["price"],
        ).collect()
    }
    assert out[1] == 100.0     # latest right ts ≤ 5 is 3
    assert out[2] == 200.0     # exact-match timestamp visible (≤ semantics)
    assert out[3] is None      # nothing at or before t=2... right starts at 3
    assert out[4] is None      # no right rows for key x


def test_range_join_buckets(spark):
    pts = spark.createDataFrame(
        [(1, T(5)), (2, T(30)), (3, T(59))], "id long, ts timestamp"
    )
    ivals = spark.createDataFrame(
        [("a", T(0), T(10)), ("b", T(25), T(59))],
        "name string, s timestamp, e timestamp",
    )
    out = range_join_buckets(pts, ivals, "ts", "s", "e", bucket_s=10)
    got = sorted((r["id"], r["name"]) for r in out.collect())
    assert got == [(1, "a"), (2, "b"), (3, "b")]


def test_multimodal_feature_extraction(spark):
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "")], "doc_id long, text string"
    )
    media = documents_as_media(docs)
    feats = {r["media_id"]: r for r in extract_features(media, 4).collect()}
    assert feats[1]["n_bytes"] == 3
    import hashlib

    assert feats[1]["payload_md5"] == hashlib.md5(b"abc").hexdigest()
    assert sum(feats[1]["feature"]) == pytest.approx(1.0)
    assert feats[2]["n_bytes"] == 0


def test_sample_frames_one_to_many(spark):
    from ambient_sound_analysis_api_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
    )

    # 40 bytes → 10 frames of 4 → sampled at every 2nd → frames 0,2,4,6,8
    docs = spark.createDataFrame(
        [(7, "x" * 40), (8, "ab")], "doc_id long, text string"
    )
    rows = sample_frames(documents_as_media(docs), every_k=2, frame_bytes=4).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    assert sorted(r["frame_idx"] for r in by_id[7]) == [0, 2, 4, 6, 8]
    assert all(r["n_bytes"] == 4 for r in by_id[7])
    assert 8 not in by_id  # payload shorter than one frame → no rows


def test_run_available_now_matches_batch_agg(spark, sf_dir, tmp_path, monkeypatch):
    """run_available_now executes the transform on real streaming machinery;
    the final memory-sink table must equal the same aggregation run as a
    plain batch plan over the same rows. The staged source directory is
    gone when it returns, and the memory-sink table still collects."""
    import glob
    import tempfile

    from ambient_sound_analysis_api_spark.registry import (
        WINDOW_END,
        WINDOW_START,
        _broadband_view,
    )
    from ambient_sound_analysis_api_spark.streaming.windows import run_available_now

    src = _broadband_view(spark, sf_dir, WINDOW_START, WINDOW_END).filter(
        F.col("hydrophone") == "view"
    )

    def agg_stream(stream):
        return (
            stream.withWatermark("ts", "5 minutes")
            .groupBy("hydrophone", F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select("hydrophone", F.col("w.start").alias("bucket_ts"), "n")
        )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    table = run_available_now(spark, src, agg_stream)
    assert glob.glob(str(tmp_path / "*_src_*")) == []
    streamed = sorted(tuple(r) for r in table.collect())
    batch = sorted(
        tuple(r)
        for r in src.groupBy(
            "hydrophone", F.window("ts", "1 hour").alias("w")
        )
        .agg(F.count("*").alias("n"))
        .select("hydrophone", F.col("w.start").alias("bucket_ts"), "n")
        .collect()
    )
    assert streamed == batch and len(streamed) > 0


def test_streaming_sliding_mean_matches_batch_window(spark):
    """Sliding-window streaming mean equals the batch F.window result: each
    event in exactly interval/slide overlapping windows."""
    from ambient_sound_analysis_api_spark.streaming.windows import (
        run_available_now,
        streaming_sliding_mean,
    )

    rows = [("h", T(s), float(s)) for s in range(0, 60, 7)]
    src = spark.createDataFrame(rows, "hydrophone string, ts timestamp, value double")

    def xform(stream):
        return streaming_sliding_mean(
            stream, interval_s=30, slide_s=10, keys=["hydrophone"]
        )

    got = {
        (r["bucket_ts"], r["mean_value"])
        for r in run_available_now(spark, src, xform).collect()
    }
    batch = {
        (r["w"]["start"], r["mean_value"])
        for r in src.groupBy(F.window("ts", "30 seconds", "10 seconds").alias("w"))
        .agg(F.avg("value").alias("mean_value"))
        .collect()
    }
    assert got == batch
    # every event contributes to exactly 3 windows (30s / 10s slide)
    n_events = len(rows)
    total_count = sum(
        r["n"]
        for r in src.groupBy(F.window("ts", "30 seconds", "10 seconds"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert total_count == 3 * n_events


def test_streaming_dedup_keeps_one_row_per_key(spark):
    from ambient_sound_analysis_api_spark.streaming.windows import (
        run_available_now,
        streaming_dedup,
    )

    rows = [
        (1, "a", T(1)),
        (1, "a", T(2)),   # duplicate key
        (1, "b", T(3)),
        (2, "a", T(4)),
        (2, "a", T(5)),   # duplicate key
    ]
    src = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")

    def xform(stream):
        return streaming_dedup(stream, ["user_id", "event_type"]).select(
            "user_id", "event_type"
        )

    got = sorted(
        tuple(r)
        for r in run_available_now(spark, src, xform, output_mode="append").collect()
    )
    assert got == [(1, "a"), (1, "b"), (2, "a")]
