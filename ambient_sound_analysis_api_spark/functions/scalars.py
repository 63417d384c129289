"""Scalar column functions (SURVEY.md §2.8) as Catalyst expressions.

Every function here compiles to built-in JVM expressions — no Python UDFs —
so they stay inside whole-stage codegen on the scan→filter→project hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MICROS_PER_SECOND = 1_000_000


def normalize_hydrophone(col: Column) -> Column:
    """Slug normalization: ``strip().upper().replace(" ","_").replace("-","_")``.

    Parity with reference ``app/services/get_options.py:22-26``.
    """
    return F.upper(F.regexp_replace(F.trim(col), "[ -]", "_"))


def md5_hash60(col: Column) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex chars of md5 as a
    non-negative BIGINT.

    This is THE cross-engine hash family of the repo (samplers, Bloom
    prefilter, MinHash/SimHash/LSH): the identical value is one SQL
    expression away in any engine with md5 —
    DuckDB ``('0x' || substr(md5(x), 1, 15))::BIGINT``. Engine-internal
    hashes (xxhash64, murmur) are faster but unverifiable by an external
    oracle; md5 costs ~100 ns on the short keys these operators hash and
    keeps every hash-family operator SQL-oracle-able end to end.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def is_finite(col: Column) -> Column:
    """True where the double value is finite (not NaN/±inf).

    The reference drops non-finite points at the serialization edge with
    ``math.isfinite`` (``app/services/get_aggregations.py:78-85, 103-110,
    183-199``); here it is a plain row predicate.
    """
    return (
        col.isNotNull()
        & ~F.isnan(col)
        & (col > F.lit(float("-inf")))
        & (col < F.lit(float("inf")))
    )


def bucket_epoch(ts: Column, seconds: int) -> Column:
    """Tumbling-bucket start as epoch **seconds** (LongType).

    Integer arithmetic on ``unix_micros`` — exact, epoch-aligned, and
    identical to pandas ``resample`` / DuckDB ``//`` bucketing for rules that
    divide a day (the reference's rule set ``10S/1min/5min/15min/1H/1D``,
    ``app/services/get_aggregations.py:24-31``).
    """
    micros = seconds * MICROS_PER_SECOND
    # Defensive: ``unix_micros`` requires TIMESTAMP; a TIMESTAMP_NTZ input
    # (e.g. parquet written without UTC adjustment) is value-preserving to
    # cast under the engine's pinned-UTC session TZ. No-op on TIMESTAMP.
    um = F.unix_micros(ts.cast("timestamp"))
    # (um - um % micros) is an exact multiple of `micros`, so the double
    # division below is exact for any timestamp until year ~2255 (< 2^53 µs).
    return ((um - F.pmod(um, F.lit(micros))) / F.lit(micros)).cast("long") * F.lit(
        seconds
    )


def time_bucket(ts: Column, seconds: int) -> Column:
    """Tumbling-bucket start as a TimestampType column (epoch-aligned).

    Equivalent to ``F.window(ts, f"{seconds} seconds").start`` but stays a
    flat codegen-friendly expression (no struct construction) and is reusable
    as a grouping/partitioning key.
    """
    return F.timestamp_seconds(bucket_epoch(ts, seconds))


def second_of_day(ts: Column) -> Column:
    """Seconds since local midnight (LongType) — the time-of-day regrouping
    key behind the reference's daily-summary path
    (``app/services/get_aggregations.py:88-100`` and upstream
    ``create_daily_noise_summary_df`` semantics)."""
    return (
        F.hour(ts).cast("long") * 3600
        + F.minute(ts).cast("long") * 60
        + F.second(ts).cast("long")
    )


def tod_bucket(ts: Column, seconds: int) -> Column:
    """Time-of-day bucket start in seconds-of-day (LongType).

    Re-implements the reference's synthetic-date re-anchor + resample trick
    (``app/services/get_aggregations.py:42-43, 88-100``) as pure integer
    arithmetic.
    """
    return (second_of_day(ts) / F.lit(seconds)).cast("long") * F.lit(seconds)


def iso_format(ts: Column) -> Column:
    """ISO-8601 second-resolution formatting used by all reference responses
    (``isoformat()`` at ``app/services/get_timeseries.py:259, 266-267``)."""
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")


def decimal_mean(col: Column, scale: int = 2, precision: int = 20) -> Column:
    """Order-independent exact mean for fixed-point source data.

    ``sum`` over doubles is sensitive to partition/summation order — results
    can differ run-to-run on the same engine, let alone across engines. For
    source columns that are fixed-point by construction (2-decimal prices and
    sensor values), summing as DECIMAL is exact and order-independent;
    dividing the exact sum (as double) by the exact count yields a
    bit-deterministic mean. Used by every oracle-compared aggregate.
    """
    dec = F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")
    return dec / F.count(col)
