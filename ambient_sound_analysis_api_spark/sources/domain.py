"""Domain dataset materialization: events → hydrophone-shaped long tables.

Derives the FIXTURES.md F1/F2/F3 domain shapes deterministically from the
driver's ``events`` table (the sanctioned stand-in mapping: event_type →
hydrophone, ts → ts, value → value) and writes them in the engine's
partitioned layout plus the reference-grammar archive-key listing:

    <root>/data/freq_type=…/delta_f=…/delta_t=…/hydrophone=…/month=…/*.parquet
    <root>/archive_keys.parquet

The archive keys follow the reference filename grammar
``{start}_{end}_{secs}s_{suffix}.parquet`` (``docs/upstream-notes.md:23,
139-144``) with one key per (product, hydrophone, month), and include the
documented adversarial rows (malformed filename, ``ancient*`` prefix,
non-parquet) so the catalog path is exercised exactly as the reference's
failure modes require (``docs/upstream-notes.md:19-25``).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import write_partitioned

# 1/3-octave nominal centers 63–8000 Hz (docs/upstream-notes.md:143,153-158
# and the default band range of app/api/aggregations.py:29-30)
OCTAVE_BANDS = [
    63.0, 80.0, 100.0, 125.0, 160.0, 200.0, 250.0, 315.0, 400.0, 500.0,
    630.0, 800.0, 1000.0, 1250.0, 1600.0, 2000.0, 2500.0, 3150.0, 4000.0,
    5000.0, 6300.0, 8000.0,
]


def octave_band() -> Column:
    """The band of an ``events`` row in its PSD form: the 1/3-octave
    center ``OCTAVE_BANDS`` indexes by ``user_id``, a deterministic band
    assignment."""
    return F.element_at(
        F.array(*[F.lit(b) for b in OCTAVE_BANDS]),
        (F.col("user_id") % len(OCTAVE_BANDS) + 1).cast("int"),
    )


def _read_events(
    spark: SparkSession,
    sf_dir: str,
    start: datetime | None = None,
    end: datetime | None = None,
) -> DataFrame:
    """events table with ``ts`` normalized to a microsecond TIMESTAMP: the
    one read boundary for ``events.parquet`` (the registry reads it as
    ``registry._events``).

    The file's ``ts`` encoding drifts between regenerations. TIMESTAMP(NANOS)
    is rejected by Spark's vectorized reader; ``nanosAsLong`` reads it as raw
    nanos and the exact integer division below truncates to micros, matching
    DuckDB's own nanos→micros truncation at scan time. ``timestamp[us]``
    without UTC adjustment reads as TIMESTAMP_NTZ, which ``unix_micros`` and
    windows reject; with the session TZ pinned UTC the cast to TIMESTAMP is
    value-preserving.

    ``start``/``end`` (naive-UTC, start-inclusive / end-exclusive) are
    applied *before* the conversion, on the raw scan column — predicates on
    the converted timestamp are expressions Parquet pushdown cannot see,
    while bounds on the raw column reach the reader as ``PushedFilters`` and
    prune row groups. At archive scale this is the difference between
    scanning a window and scanning the table.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf may not exist on some builds
        pass
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(df.dtypes).get("ts")
    nanos = ts_dtype in ("bigint", "long")

    def _bound(dt: datetime):
        if not nanos:
            return F.lit(dt)
        return F.lit(
            int(dt.replace(tzinfo=timezone.utc).timestamp()) * 1_000_000_000
        )

    if start is not None:
        df = df.filter(F.col("ts") >= _bound(start))
    if end is not None:
        df = df.filter(F.col("ts") < _bound(end))
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def derive_long_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified long-form table: broadband rows (band_hz null) + PSD rows."""
    ev = _read_events(spark, sf_dir)
    broadband = ev.select(
        F.col("event_type").alias("hydrophone"),
        F.lit(1).cast("int").alias("delta_t"),
        F.lit("broadband").alias("freq_type"),
        F.lit(None).cast("int").alias("delta_f"),
        F.col("ts"),
        F.lit(None).cast("double").alias("band_hz"),
        F.col("value"),
    )
    psd = ev.select(
        F.col("event_type").alias("hydrophone"),
        F.lit(1).cast("int").alias("delta_t"),
        F.lit("octave_bands").alias("freq_type"),
        F.lit(3).cast("int").alias("delta_f"),
        F.col("ts"),
        octave_band().alias("band_hz"),
        F.col("value"),
    )
    return broadband.unionByName(psd)


def derive_archive_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-grammar archive keys: one per (product, hydrophone, month),
    plus the adversarial rows every catalog implementation must survive."""
    long_df = derive_long_table(spark, sf_dir)
    months = (
        long_df.groupBy(
            "hydrophone", "freq_type", "delta_f", "delta_t",
            F.date_trunc("month", "ts").alias("m0"),
        )
        .agg(F.count("*").alias("n"))
    )
    fmt = lambda c: F.date_format(c, "yyyyMMdd'T'HHmmss")  # noqa: E731
    suffix = (
        F.when(F.col("freq_type") == "broadband", F.lit("broadband"))
        .when(
            F.col("freq_type") == "octave_bands",
            F.concat(F.col("delta_f").cast("string"), F.lit("oct")),
        )
        .otherwise(F.concat(F.col("delta_f").cast("string"), F.lit("hz")))
    )
    key = F.concat(
        F.lit("archive/"), F.col("hydrophone"), F.lit("/"),
        fmt(F.col("m0")), F.lit("_"),
        fmt(F.add_months(F.col("m0"), 1)), F.lit("_"),
        F.col("delta_t").cast("string"), F.lit("s_"), suffix,
        F.lit(".parquet"),
    )
    good = months.select(key.alias("key"))
    adversarial = spark.createDataFrame(
        [
            ("archive/click/bush.parquet",),                # malformed → skip
            ("archive/click/readme.txt",),                  # non-parquet
            ("archive/view/ancient_20240101T000000_20240201T000000_1s_broadband.parquet",),
        ],
        "key string",
    )
    return good.unionByName(adversarial)


def materialize_domain(spark: SparkSession, sf_dir: str, out_root: str) -> None:
    """Write the partitioned domain table + archive-key listing under
    ``out_root``. Deterministic given the same sf_dir."""
    write_partitioned(derive_long_table(spark, sf_dir), f"{out_root}/data")
    derive_archive_keys(spark, sf_dir).write.mode("overwrite").parquet(
        f"{out_root}/archive_keys.parquet"
    )
