"""Raw timeseries queries: pruned scan → window filter → projection.

Re-expresses the reference's ``/timeseries/broadband`` and ``/timeseries/psd``
paths (``app/services/get_timeseries.py:188-335``). The reference's file-level
pruning + whole-file pandas download + post-hoc trim becomes a single
declarative plan: partition-pruned Parquet scan with the time predicate pushed
into the scan (row-group stats), projection pruned to the needed columns.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import is_finite, iso_format


def window_filter(df: DataFrame, start: datetime, end: datetime,
                  ts_col: str = "ts") -> DataFrame:
    """Start-inclusive / end-exclusive time window (reference
    ``app/api/timeseries.py:21-22``)."""
    return df.filter((F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) < F.lit(end)))


def broadband_points(
    df: DataFrame,
    hydrophone: str,
    start: datetime,
    end: datetime,
    *,
    drop_nonfinite: bool = True,
) -> DataFrame:
    """Broadband point list ``(ts, value)`` ordered by time.

    Parity with ``get_broadband_timeseries``
    (``app/services/get_timeseries.py:246-261``): first (only) value column,
    timestamp-ascending, non-finite values dropped at the edge (P6,
    ``README.md:138``).
    """
    out = (
        window_filter(df, start, end)
        .filter(F.col("hydrophone") == hydrophone)
        .select("ts", "value")
    )
    if drop_nonfinite:
        out = out.filter(is_finite(F.col("value")))
    return out.orderBy("ts")


def psd_matrix(psd: DataFrame, bands: list[float]) -> DataFrame:
    """Serving projection: long PSD → wide matrix rows.

    One output row per timestamp with one column per requested band
    (reference response shape ``app/services/get_timeseries.py:309-328``).
    Implemented as conditional aggregation over an explicit band list so the
    output schema is static — a requirement for a distributed plan (dynamic
    ``pivot`` needs an extra pass to discover labels).

    Rows where *all* bands are null are dropped, matching the reference's
    ``dropna(how='all')`` (``app/services/get_aggregations.py:254-255``).
    """
    aggs = [
        F.avg(F.when(F.col("band_hz") == F.lit(b), F.col("value"))).alias(_band_col(b))
        for b in bands
    ]
    wide = psd.groupBy("ts").agg(*aggs)
    not_all_null = None
    for b in bands:
        c = F.col(_band_col(b)).isNotNull()
        not_all_null = c if not_all_null is None else (not_all_null | c)
    return wide.filter(not_all_null).orderBy("ts")


def _band_col(band_hz: float) -> str:
    """Stringified band label (reference stringifies column labels for the
    response, ``app/services/get_timeseries.py:321``)."""
    return f"band_{band_hz:g}"


def gap_fill(
    df: DataFrame,
    interval_s: int,
    start: datetime,
    end: datetime,
    *,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Regular-grid gap filling with backward fill, per key.

    Emits one row per key per grid point in ``[start, end)`` carrying the
    most recent observation at-or-before the grid point (``value`` /
    ``last_event_us``; null before the first observation). This is the
    serving-side "resample to a dense grid" the archived-noise dashboards
    need when hydrophones drop out — SQL-awkward (grid × as-of per key),
    natural as a grouped-map: ``applyInPandas`` ships each key's rows to one
    Arrow batch and ``pandas.merge_asof`` does the backward scan.

    Input duplicates per (key, ts) must be pre-reduced by the caller (the
    registry query reduces with max(value)) so the fill is deterministic.
    Scale shape: one shuffle on the keys; each group holds only that key's
    observations plus a bounded grid (grid length = window/interval), so
    memory per group is bounded regardless of table size.
    """
    import pandas as pd

    keys = keys or ["hydrophone"]
    grid = pd.date_range(start, end, freq=f"{interval_s}s", inclusive="left")
    out_schema = ", ".join(
        [f"{k} string" for k in keys]
        + ["grid_us long", "value double", "last_event_us long"]
    )

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        gdf = pd.DataFrame({"_g": grid})
        merged = pd.merge_asof(
            gdf, pdf[[ts_col, value_col]], left_on="_g", right_on=ts_col,
            direction="backward",
        )
        out = pd.DataFrame(
            {
                **{k: key[i] for i, k in enumerate(keys)},
                "grid_us": merged["_g"].astype("int64") // 1000,
                "value": merged[value_col],
                "last_event_us": merged[ts_col].astype("int64") // 1000,
            }
        )
        # pandas NaT // 1000 is a huge negative sentinel — null it out
        out.loc[merged[ts_col].isna(), "last_event_us"] = None
        return out

    return df.groupBy(*keys).applyInPandas(fn, schema=out_schema)


def cusum_changepoint(
    buckets: DataFrame,
    ts_col: str = "bucket_ts",
    val_col: str = "xb",
) -> DataFrame:
    """Single-changepoint detection via the CUSUM statistic over a
    bucketed series.

    Input is an already-bucketed series (one row per time bucket, e.g.
    the 5-minute means of ``aggregations.bucket_mean``) — the heavy
    reduction from raw points to buckets happens upstream as a grouped
    aggregate, so the ordered pass here runs over a CALENDAR-BOUNDED
    table (window length / bucket width rows), never the raw data.

    The statistic: center the series on its global mean, take the
    running cumulative sum, and the changepoint estimate is the bucket
    maximizing |cusum| (Page 1954 / the standard mean-shift CUSUM
    estimator).  Plan shape: one 1-row global-mean broadcast, one
    ordered cumulative window over the bounded bucket table, a
    TakeOrdered(1) for the argmax (|cusum| desc, bucket asc tie-break on
    the DECIMAL-cast magnitude — never raw doubles across engines), and
    one final 1-row broadcast back against the buckets for the pre/post
    split means.

    Returns ONE row: (cp_ts, max_abs_cusum, mean_pre, mean_post, shift,
    n_pre, n_post) — ``mean_pre`` includes the changepoint bucket itself
    (the CUSUM peak marks the END of the pre-shift regime), ratios
    6dp-rounded.
    """
    from pyspark.sql import Window

    from .caching import tracked_persist

    # the bucket table is referenced THREE times (global mean, cusum
    # window, pre/post split) and Spark shares no common subplans —
    # persist so the upstream raw→bucket aggregation runs once, not 3×
    b = tracked_persist(
        buckets.select(
            F.col(ts_col).alias("_t"), F.col(val_col).cast("double").alias("_x")
        )
    )
    # decimal-summed mean: associative, so bit-identical across engines
    # and partitionings (house _DECMEAN idiom)
    mean_row = b.agg(
        (
            F.sum(F.col("_x").cast("decimal(28,10)")).cast("double")
            / F.count("_x")
        ).alias("_mu")
    )
    centered = b.crossJoin(F.broadcast(mean_row))
    w = Window.orderBy("_t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # accumulate DECIMAL deviations: decimal addition is associative, so
    # the running sum is independent of the engine's window-sum strategy
    # (Spark runs sequential, DuckDB may segment-tree)
    cs = centered.withColumn(
        "_cusum",
        F.sum(
            (F.col("_x") - F.col("_mu")).cast("decimal(28,10)")
        ).over(w).cast("double"),
    )
    cp = (
        cs.orderBy(
            F.round(F.abs(F.col("_cusum")), 6)
            .cast("decimal(24,6)")
            .desc(),
            F.col("_t"),
        )
        .limit(1)
        .select(
            F.col("_t").alias("_cp"),
            F.round(F.abs(F.col("_cusum")), 6).alias("_mag"),
        )
    )
    split = b.crossJoin(F.broadcast(cp))
    pre = F.col("_t") <= F.col("_cp")
    dec = F.col("_x").cast("decimal(28,10)")
    mean_pre = F.sum(F.when(pre, dec)).cast("double") / F.count(
        F.when(pre, F.lit(1))
    )
    mean_post = F.sum(F.when(~pre, dec)).cast("double") / F.count(
        F.when(~pre, F.lit(1))
    )
    return split.agg(
        iso_format(F.first("_cp")).alias("cp_ts"),
        F.first("_mag").alias("max_abs_cusum"),
        F.round(mean_pre, 6).alias("mean_pre"),
        F.round(mean_post, 6).alias("mean_post"),
        F.round(mean_post - mean_pre, 6).alias("shift"),
        F.sum(F.when(pre, 1).otherwise(0)).cast("bigint").alias("n_pre"),
        F.sum(F.when(~pre, 1).otherwise(0)).cast("bigint").alias("n_post"),
    )
