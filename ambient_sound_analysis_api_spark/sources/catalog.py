"""Archive catalog: listing → filename parse → coverage aggregation.

Replaces the reference's inventory scan (``_scan_hydrophone_archive``,
``app/services/get_options.py:86-140``): S3 keys named
``{start:yyyyMMdd'T'HHmmss}_{end}_{delta_t}s_{suffix}.parquet`` (grammar
``docs/upstream-notes.md:23, 139-144``) are parsed with ``regexp_extract``
and aggregated into a tiny coverage catalog
``(hydrophone, freq_type, delta_f, delta_t, first_start, last_end,
file_count)``. ``serving.Engine`` collects it once; preflight validation
(``operators/validation.py``, reference
``app/services/get_timeseries.py:101-184``) and ``/options`` read those
rows in Python.

Scale note: the catalog is bounded by the number of archive *products*,
and its input by the number of archive *files* (one per
hydrophone-product-month), i.e. thousands of keys at 100 TB of data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import normalize_hydrophone

# {start}_{end}_{secs}s_{freq}.parquet ; freq ∈ broadband | <n>oct | <n>hz
# (reference grammar docs/upstream-notes.md:139-144, parse consumed at
# app/services/get_options.py:116-120)
FILENAME_PATTERN = (
    r"([0-9]{8}T[0-9]{6})_([0-9]{8}T[0-9]{6})_([0-9]+)s_([a-z0-9]+)\.parquet$"
)
_TS_FORMAT = "yyyyMMdd'T'HHmmss"


def parse_archive_keys(keys_df: DataFrame, key_col: str = "key") -> DataFrame:
    """Parse filenames into typed product metadata; malformed keys dropped.

    Filters non-parquet and ``ancient*`` keys (reference
    ``app/services/get_options.py:111-113``) and *skips* malformed filenames
    rather than erroring — the reference wraps the parse in
    ``except (IndexError, TypeError, ValueError)`` deliberately
    (``app/services/get_options.py:116-120``, ``docs/upstream-notes.md:19-25``).

    Output: ``(key, hydrophone, freq_type, delta_f, delta_t, file_start,
    file_end)``, one row per well-formed archive file.
    """
    key = F.col(key_col)
    fname = F.element_at(F.split(key, "/"), -1)
    # hydrophone = path segment before the filename (archive layout
    # .../{hydrophone}/{file}, docs/upstream-notes.md:62-64)
    hydro_raw = F.element_at(F.split(key, "/"), -2)

    start_s = F.regexp_extract(fname, FILENAME_PATTERN, 1)
    end_s = F.regexp_extract(fname, FILENAME_PATTERN, 2)
    secs_s = F.regexp_extract(fname, FILENAME_PATTERN, 3)
    suffix = F.regexp_extract(fname, FILENAME_PATTERN, 4)

    oct_n = F.regexp_extract(suffix, r"^(\d+)oct$", 1)
    hz_n = F.regexp_extract(suffix, r"^(\d+)hz$", 1)
    freq_type = (
        F.when(suffix == "broadband", "broadband")
        .when(oct_n != "", "octave_bands")
        .when(hz_n != "", "delta_hz")
    )
    # try_cast / try_to_timestamp, not plain casts: a malformed key leaves
    # the regexp groups as '' and under ANSI mode (Spark 4 default) a plain
    # cast of '' THROWS. The plain-cast form only survived by accident —
    # Catalyst pushed the isNotNull filters below this projection and
    # short-circuited freq_type-isNull rows before the cast conjunct — and
    # the accident breaks the moment the input is a LocalRelation the
    # optimizer evaluates eagerly (Arrow-built listings). try_* encodes the
    # documented skip-malformed semantics unconditionally.
    delta_f = (
        F.when(oct_n != "", oct_n.try_cast("int"))
        .when(hz_n != "", hz_n.try_cast("int"))
        .cast("int")
    )

    return (
        keys_df.filter(fname.endswith(".parquet") & ~fname.startswith("ancient"))
        .select(
            key.alias("key"),
            normalize_hydrophone(hydro_raw).alias("hydrophone"),
            freq_type.alias("freq_type"),
            delta_f.alias("delta_f"),
            secs_s.try_cast("int").alias("delta_t"),
            F.try_to_timestamp(start_s, F.lit(_TS_FORMAT)).alias("file_start"),
            F.try_to_timestamp(end_s, F.lit(_TS_FORMAT)).alias("file_end"),
        )
        # malformed filename ⇒ regexp groups empty ⇒ nulls ⇒ skipped
        .filter(
            F.col("freq_type").isNotNull()
            & F.col("delta_t").isNotNull()
            & F.col("file_start").isNotNull()
            & F.col("file_end").isNotNull()
        )
    )


def coverage_islands(
    files: DataFrame,
    keys: tuple[str, ...] = ("hydrophone", "freq_type", "delta_f", "delta_t"),
) -> DataFrame:
    """Merged-interval coverage report per product — the gaps-and-islands
    readout over the parsed archive listing: contiguous runs of file
    coverage (adjacent or overlapping ``[file_start, file_end)``
    intervals merge), how many there are, the total covered seconds, and
    the largest hole. ``build_catalog``'s min/max/count coverage summary
    can't see HOLES (a product with one missing month still reports
    first_start..last_end); this is the audit an archive operator
    actually pages on.

    Plan: one product-partitioned ordered window marks island breaks
    (``file_start`` strictly greater than the running max of all prior
    ``file_end`` — running max, not ``lag``, because an interval wholly
    inside an earlier one must not split the island), a running sum
    numbers the islands, one grouped pass collapses islands, and a
    second (island-count-sized) window reads the gaps. Both windows
    partition on the product key; per-partition row counts are bounded
    by archive file counts.

    Returns ``(*keys, n_files, n_islands, covered_secs, max_gap_secs)``.
    """
    from pyspark.sql import Window

    sec = lambda c: (F.unix_micros(F.col(c)) / F.lit(1_000_000)).cast(  # noqa: E731
        "long"
    )
    base = files.select(
        *keys, sec("file_start").alias("s"), sec("file_end").alias("e")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = base.withColumn(
        "brk",
        (
            F.col("s")
            > F.coalesce(F.max("e").over(w), F.lit(-(1 << 62)))
        ).cast("int"),
    )
    wrun = (
        Window.partitionBy(*keys)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = marked.withColumn("island", F.sum("brk").over(wrun))
    islands = numbered.groupBy(*keys, "island").agg(
        F.min("s").alias("is_"),
        F.max("e").alias("ie"),
        F.count("*").alias("nf"),
    )
    wg = Window.partitionBy(*keys).orderBy("is_")
    gapped = islands.withColumn(
        "gap", F.col("is_") - F.lag("ie").over(wg)
    )
    return (
        gapped.groupBy(*keys)
        .agg(
            F.sum("nf").alias("n_files"),
            F.count("*").alias("n_islands"),
            F.sum(F.col("ie") - F.col("is_")).alias("covered_secs"),
            F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias(
                "max_gap_secs"
            ),
        )
    )


def build_catalog(keys_df: DataFrame, key_col: str = "key") -> DataFrame:
    """Coverage catalog: group parsed files by product, min/max/count.

    Parity with the reference's inventory group-agg + coverage summary
    (``app/services/get_options.py:125-177``): per
    ``(hydrophone, freq_type, delta_f, delta_t)`` product, the earliest file
    start, latest file end, and file count.
    """
    return (
        parse_archive_keys(keys_df, key_col)
        .groupBy("hydrophone", "freq_type", "delta_f", "delta_t")
        .agg(
            F.min("file_start").alias("first_start"),
            F.max("file_end").alias("last_end"),
            F.count("*").alias("file_count"),
        )
        .orderBy("hydrophone", "freq_type", "delta_f", "delta_t")
    )
