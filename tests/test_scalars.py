from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.functions.scalars import (
    bucket_epoch,
    decimal_mean,
    is_finite,
    normalize_hydrophone,
    second_of_day,
    time_bucket,
    tod_bucket,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_bucket_epoch_alignment(spark):
    # 2024-01-05 00:07:31.5 → 5-min bucket starts at 00:05:00
    df = spark.createDataFrame(
        [(datetime(2024, 1, 5, 0, 7, 31, 500000),)], "ts timestamp"
    )
    row = df.select(
        bucket_epoch(F.col("ts"), 300).alias("e"),
        time_bucket(F.col("ts"), 300).alias("t"),
    ).collect()[0]
    assert row["e"] == int(datetime(2024, 1, 5, 0, 5).timestamp())
    assert row["t"] == datetime(2024, 1, 5, 0, 5)


def test_bucket_epoch_exact_boundary(spark):
    df = spark.createDataFrame([(datetime(2024, 1, 5, 0, 10, 0),)], "ts timestamp")
    assert df.select(bucket_epoch(F.col("ts"), 600).alias("e")).collect()[0][
        "e"
    ] == int(datetime(2024, 1, 5, 0, 10).timestamp())


def test_second_of_day_and_tod_bucket(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 1, 5, 13, 46, 39),)], "ts timestamp"
    )
    row = df.select(
        second_of_day(F.col("ts")).alias("sod"),
        tod_bucket(F.col("ts"), 900).alias("tod"),
    ).collect()[0]
    assert row["sod"] == 13 * 3600 + 46 * 60 + 39
    assert row["tod"] == (row["sod"] // 900) * 900


def test_normalize_hydrophone(spark):
    # parity: strip().upper().replace(" ","_").replace("-","_")
    # (reference app/services/get_options.py:22-26)
    assert (
        _one(spark, normalize_hydrophone(F.lit("  orcasound lab-1 ")))
        == "ORCASOUND_LAB_1"
    )


def test_is_finite(spark):
    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (float("inf",),), (float("-inf"),), (None,)],
        "v double",
    )
    kept = df.filter(is_finite(F.col("v"))).collect()
    assert [r["v"] for r in kept] == [1.0]


def test_decimal_mean_order_independent(spark):
    # exact mean of 2-decimal values regardless of partitioning
    vals = [(round(0.01 * i, 2),) for i in range(1, 1001)]
    df = spark.createDataFrame(vals, "v double").repartition(16)
    m = df.agg(decimal_mean(F.col("v")).alias("m")).collect()[0]["m"]
    assert m == (sum(int(round(v[0] * 100)) for v in vals) / 100) / len(vals)
