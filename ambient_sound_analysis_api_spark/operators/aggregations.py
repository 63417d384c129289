"""Window aggregations: resample, band means, daily summaries (SURVEY.md §2.4).

The reference's hardest path — sequential chunked reads, per-chunk pandas
``resample``, last-wins merge (``app/services/get_aggregations.py:208-288``)
— collapses into single global ``groupBy(bucket)`` plans. One shuffle, partial
aggregation map-side, no chunk-boundary artifacts (the reference keeps only
the later chunk's partial-bucket mean when a bucket straddles a chunk; the
global aggregate computes the true full-bucket mean — documented divergence,
SURVEY.md §2.7 U1).

All bucket keys are epoch-aligned tumbling windows (pandas ``resample``
alignment) computed with exact integer arithmetic — see
``functions.scalars.bucket_epoch``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import decimal_mean, is_finite, time_bucket, tod_bucket


def _mean(value_col: str, exact: bool):
    """Mean strategy: plain double ``avg`` (fast path) or the
    order-independent exact decimal mean (bit-deterministic, used for
    oracle-compared outputs — see ``functions.scalars.decimal_mean``)."""
    return decimal_mean(F.col(value_col)) if exact else F.avg(value_col)


def resample_mean(
    df: DataFrame,
    interval_s: int,
    *,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
    exact: bool = False,
) -> DataFrame:
    """Tumbling-window mean: one row per (keys…, bucket_ts).

    Parity with pandas ``df.resample(rule).mean()`` as used at
    ``app/services/get_aggregations.py:97, 187, 254`` — calendar/epoch
    aligned buckets labeled by bucket start, NaN-skipping mean.

    **Documented divergence (non-finite handling, mirrors the U1 note in the
    module docstring):** non-finite *inputs* (±inf) are dropped before the
    mean. The reference lets ±inf propagate through pandas ``mean`` and only
    drops non-finite *outputs* at serialization (P6, ``README.md:138``), so
    for a bucket containing one ``+inf`` among finite points the reference
    drops the whole bucket while this engine returns the mean of the finite
    points. Deliberate: an instrument glitch should cost one sample, not a
    bucket — and bucket presence stays insensitive to a single bad point.
    NaN behaves identically in both engines (skipped by pandas ``mean``,
    excluded here by the same filter). Pinned by
    ``tests/test_aggregations.py::test_resample_mean_inf_divergence``.
    """
    df = df.filter(is_finite(F.col(value_col)))
    group = [*(keys or []), time_bucket(F.col(ts_col), interval_s).alias("bucket_ts")]
    return df.groupBy(*group).agg(_mean(value_col, exact).alias("mean_value"))


def band_mean(
    psd: DataFrame,
    interval_s: int,
    band_low: float = 63.0,
    band_high: float = 8000.0,
    *,
    keys: list[str] | None = None,
    exact: bool = False,
) -> DataFrame:
    """Per-bucket arithmetic mean of dB values across a band range.

    Semantics caveat preserved from the reference: this is a plain
    arithmetic mean of dB values with null-skip — explicitly *not* acoustic
    power integration (``app/services/get_aggregations.py:57-67``,
    ``upstream-notes.md:36-49``). In long form the reference's horizontal
    (axis=1) mean over selected columns is a vertical mean over filtered rows.
    """
    in_band = psd.filter(
        F.col("band_hz").between(float(band_low), float(band_high))
    )
    return resample_mean(in_band, interval_s, keys=keys, exact=exact)


def daily_summary(
    psd: DataFrame,
    tod_interval_s: int = 1,
    *,
    keys: list[str] | None = None,
    exact: bool = False,
) -> DataFrame:
    """Time-of-day statistics across days: one grouped pass → mean/min/max/count.

    Re-expresses upstream ``DailyNoiseAnalysis.create_daily_noise_summary_df``
    (called at ``app/services/get_aggregations.py:338-354``; semantics
    ``upstream-notes.md:11-12``) which returns *four* frames keyed
    ``mean/min/max/count`` — here a single aggregation produces all four
    columns per ``(tod_bucket_s, band_hz)`` group. The secondary resample of
    the ``HH:MM:SS`` index (``app/services/get_aggregations.py:88-100``) is
    folded in via the ``tod_interval_s`` bucket width.
    """
    df = psd.filter(is_finite(F.col("value")))
    group = [
        *(keys or []),
        tod_bucket(F.col("ts"), tod_interval_s).alias("tod_s"),
        F.col("band_hz"),
    ]
    return df.groupBy(*group).agg(
        _mean("value", exact).alias("mean_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count("value").alias("count_value"),
    )


def daily_summary_series(summary: DataFrame) -> DataFrame:
    """Collapse the per-band summary into the reference's four response
    series: per time-of-day bucket, mean across bands of each statistic.

    The ``count`` series is the *mean over band columns of per-bucket
    day-observation counts* ("mean contributing day-observation count",
    reference ``README.md:137``, ``app/services/get_aggregations.py:350,
    354``) — mean-of-counts, not sum. Rows come unordered; the caller
    sorts (the serving payload is capped, so on the driver).
    """
    return summary.groupBy("tod_s").agg(
        F.avg("mean_value").alias("mean_series"),
        F.avg("min_value").alias("min_series"),
        F.avg("max_value").alias("max_series"),
        F.avg("count_value").alias("count_series"),
    )


def daily_broadband(
    df: DataFrame, *, keys: list[str] | None = None, exact: bool = False
) -> DataFrame:
    """One true broadband mean per calendar day.

    Parity with upstream ``create_broadband_daily_noise`` (called at
    ``app/services/get_aggregations.py:424-427``; semantics
    ``upstream-notes.md:13``). Rows come unordered; the caller sorts.
    """
    df = df.filter(is_finite(F.col("value")))
    group = [*(keys or []), F.to_date("ts").alias("day")]
    return df.groupBy(*group).agg(_mean("value", exact).alias("mean_value"))


def sessionize(
    df: DataFrame,
    gap_s: int,
    *,
    keys: list[str] | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessionization via ``F.session_window``: events whose
    spacing is strictly less than ``gap_s`` merge into one session per key.

    One shuffle on the keys; the session merge happens inside Spark's
    session-window aggregation (works identically in batch and Structured
    Streaming — the streaming form adds a watermark upstream). Session
    bounds are reported from the *data* (min/max event time), not the
    gap-padded window end, so they are engine-neutral.
    """
    keys = keys or []
    return (
        df.groupBy(
            *keys,
            F.session_window(F.col(ts_col), f"{gap_s} seconds").alias("_sw"),
        )
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .drop("_sw")
    )


def daily_partials(
    ev: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Algebraic per-day partial aggregates: (key, day, n, decimal sum,
    min, max). The materialize-once layer of an incremental rollup
    pipeline — every statistic here MERGES losslessly (counts and decimal
    sums add; min/max re-min/max), so coarser periods never re-scan raw
    data. The mean is deliberately NOT stored (it doesn't merge); it is
    derived from (sum, n) after the final merge."""
    return (
        ev.filter(is_finite(F.col(val_col)))
        .groupBy(
            F.col(key_col),
            F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.count(val_col).alias("n"),
            F.sum(F.col(val_col).cast("decimal(20,2)")).alias("s"),
            F.min(val_col).alias("mn"),
            F.max(val_col).alias("mx"),
        )
    )


def merge_partials_monthly(
    partials: DataFrame, key_col: str = "event_type"
) -> DataFrame:
    """Merge daily partials to monthly statistics. Decimal-sum
    associativity makes the merged mean bit-identical to a direct
    aggregation over the raw rows — which is exactly what the registry
    oracle checks (direct SQL monthly agg vs this two-level plan). At
    scale the daily table is O(keys × days), so the monthly rollup reads
    thousands of rows where the raw scan would read billions.
    ``key_col`` must match the one the partials were built with."""
    return (
        partials.groupBy(
            F.col(key_col), F.substring("day", 1, 7).alias("month")
        )
        .agg(
            F.sum("n").alias("n_events"),
            (F.sum("s").cast("double") / F.sum("n")).alias("mean_value"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
    )


def last_touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Last-touch conversion attribution: credit each conversion to the
    user's most recent preceding non-conversion event type.

    The standard marketing/product analytics rollup — which touchpoint
    (view, click, signup, …) immediately preceded each purchase?  Plan
    shape: ONE user-partitioned ordered window (``last(..,
    ignorenulls)`` over rows preceding the current one) tags every
    conversion with its touch type in a single shuffle on ``user_id``,
    then a grid-sized group-by counts conversions per touch.
    Conversions with no preceding event credit ``'direct'``.  Ordering
    ties break on the event id so the attribution is deterministic
    under replays and repartitioning.

    Returns (touch_type, n_conversions) ordered by touch_type.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = events.withColumn(
        "_touch",
        F.last(
            F.when(F.col(type_col) != conversion_type, F.col(type_col)),
            ignorenulls=True,
        ).over(w),
    )
    return (
        tagged.filter(F.col(type_col) == conversion_type)
        .groupBy(F.coalesce(F.col("_touch"), F.lit("direct")).alias("touch_type"))
        .agg(F.count("*").cast("bigint").alias("n_conversions"))
        .orderBy("touch_type")
    )
