"""Serving layer: the reference's endpoint semantics over the Spark engine.

One class per deployment (``Engine``), one method per reference endpoint
(``app/api/{options,timeseries,aggregations}.py``). Each method runs the
reference lifecycle — normalize → preflight-validate against the catalog →
pruned scan → aggregate → cap-check → envelope — with the heavy middle
compiled to one declarative Spark plan instead of chunked pandas.

Driver/executor discipline: counts and caps are computed DataFrame-side;
only the bounded serving payload (≤ MAX_AGGREGATION_POINTS buckets, or a
≤31-day raw window) is ever collected, so the driver never materializes an
unbounded result (contrast: the reference loads whole months into process
memory, ``docs/upstream-notes.md:65-71``). Because that payload is bounded,
an uncached request runs one Spark plan, one collect and one stage (the
pruned scan is coalesced to one partition, ``_scan``); ordering, the PSD
pivot and the catalog preflight are plain Python over collected rows.

An Engine serves a snapshot of ``root`` taken at construction: the catalog
rows and the parquet listing of ``root/data`` are both read once in
``__init__``. Archives added later are picked up by a new Engine.

Request memoization mirrors the reference's ``lru_cache`` layer
(``app/services/*.py``, measured 24.67 s → 0.016 s on repeat,
``docs/performance-enhancements.md:22``).
"""

from __future__ import annotations

import copy
import functools
import math
from datetime import datetime, timedelta
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import RequestValidationError, UnknownHydrophoneError
from .functions.scalars import is_finite, iso_format, normalize_hydrophone
from .operators import aggregations as agg
from .operators import timeseries as ts_ops
from .operators.planner import (
    INTERVALS,
    MAX_AGGREGATION_POINTS,
    MAX_WINDOW_DAYS,
    check_point_cap,
    expected_point_count,
    resolve_interval,
    to_naive_utc,
    validate_interval_fits,
    validate_window,
)
from .operators.validation import integrity_probe, validate_request
from .sources.catalog import build_catalog
from .sources.ingest import month_key


def _memoized(fn, maxsize: int):
    """``lru_cache`` that hands each caller a deep copy of the cached payload.

    A raw ``lru_cache`` returns the *same* dict object to every caller; a
    consumer that mutates its response (e.g. appends to ``out['points']``)
    would silently poison the cache for all later identical requests. The
    cached object stays private; ``cache_info``/``cache_clear`` are
    re-exported for tests and operational cache busting.
    """
    cached = lru_cache(maxsize=maxsize)(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return copy.deepcopy(cached(*args, **kwargs))

    wrapper.cache_info = cached.cache_info
    wrapper.cache_clear = cached.cache_clear
    return wrapper


def _norm_slug(name: str) -> str:
    """Driver-side mirror of ``functions.scalars.normalize_hydrophone``
    (reference ``app/services/get_options.py:22-26``)."""
    slug = name.strip().upper().replace(" ", "_").replace("-", "_")
    if not slug:
        raise RequestValidationError("hydrophone name must be non-empty")
    return slug


class Engine:
    """Analytics engine over a materialized domain root
    (see ``sources.domain.materialize_domain`` for the layout)."""

    def __init__(self, spark: SparkSession, root: str, key_lister=None):
        self.spark = spark
        self.root = root
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # Archive-key source is pluggable (sources/listing.py). The default
        # reads the staged parquet manifest; production lists the bucket
        # executor-side, one task per prefix: Engine(key_lister=auto_lister(
        # pager_factory=lambda: s3_pager(boto3.client('s3'), bucket),
        # prefixes=[f'archive/{h}/' for h in hydros])).
        if key_lister is None:
            from .sources.listing import auto_lister

            key_lister = auto_lister(path=f"{root}/archive_keys.parquet")
        # catalog snapshot: one row per product, collected once and read
        # by every preflight validation and /options in pure Python
        # (reference C4/C5); immutable, so request threads share it
        self._catalog = tuple(build_catalog(key_lister.list_keys(spark)).collect())
        # one data frame: the parquet listing and schema inference run here,
        # not per request; every scan filters this frame
        self._frame = spark.read.parquet(f"{root}/data")
        # memoized request entry points (reference lru_cache sizes,
        # app/services/get_options.py:54, get_timeseries.py:233,287,
        # get_aggregations.py:310-548)
        self.options = _memoized(self._options, 16)
        self.broadband_timeseries = _memoized(self._broadband_timeseries, 128)
        self.psd_timeseries = _memoized(self._psd_timeseries, 128)
        self.broadband_aggregation = _memoized(self._broadband_aggregation, 64)
        self.band_aggregation = _memoized(self._band_aggregation, 64)
        self.psd_heatmap = _memoized(self._psd_heatmap, 64)
        self.daily_summary = _memoized(self._daily_summary, 64)
        self.daily_broadband_summary = _memoized(self._daily_broadband_summary, 64)

    # ------------------------------------------------------------------ scans

    def _data(self) -> DataFrame:
        return self._frame

    def _scan(
        self,
        freq_type: str,
        delta_f: int | None,
        delta_t: int,
        hydrophone_slug: str,
        start: datetime,
        end: datetime,
    ) -> DataFrame:
        """Pruned product scan: every predicate here lands on a partition
        column (product, hydrophone and the months ``[start, end)`` touches)
        or the parquet ``ts`` row-group stats — the Catalyst replacement for
        the reference's filename pruning (SURVEY.md §4).

        The scan is coalesced to one partition: that satisfies the
        aggregates' required distribution, so no exchange is planned and
        scan and aggregates run as one stage and one job. A ≤31-day window
        is one or two month files of one product, so the one task reads
        little, and the exchange it saves would cost a job; a long daily
        request (``num_days`` is unbounded, as in the reference) reads all
        its months in that task."""
        last = max(start, end - timedelta(microseconds=1))
        df = self._data().filter(
            (F.col("freq_type") == freq_type)
            & (F.col("delta_t") == delta_t)
            & (normalize_hydrophone(F.col("hydrophone")) == hydrophone_slug)
            & F.col("month").between(month_key(start), month_key(last))
        )
        if delta_f is not None:
            df = df.filter(F.col("delta_f") == delta_f)
        return ts_ops.window_filter(df, start, end).coalesce(1)

    def _matching_file_count(
        self, slug: str, freq_type: str, delta_f: int | None, delta_t: int,
        start: datetime, end: datetime,
    ) -> int:
        """Catalog-side probe for the integrity check (reference
        ``_matching_file_count``, ``get_timeseries.py:71-81``); tuple
        equality keeps the ``delta_f`` match null-safe."""
        product = (slug, freq_type, delta_f, delta_t)
        return sum(
            r["file_count"]
            for r in self._catalog
            if (r["hydrophone"], r["freq_type"], r["delta_f"], r["delta_t"])
            == product
            and start <= r["last_end"]
            and end >= r["first_start"]
        )

    # ----------------------------------------------------------- cap preflight

    def _precollect_point_cap(
        self,
        bucketed: DataFrame,
        start: datetime,
        end: datetime,
        interval_s: int,
        what: str,
        time_col: str | None = None,
    ) -> None:
        """Enforce the 2,000-point cap BEFORE any ``.collect()``.

        Two tiers, so the common (accepted) request costs zero extra jobs:

        1. Arithmetic bound: a tumbling-window aggregation over
           ``[start, end)`` can produce at most
           ``ceil(window/interval) + 1`` aligned buckets (the +1 covers a
           start that is not bucket-aligned). If that bound already fits the
           cap, the collect is provably bounded — skip the probe.
        2. Exact DF-side count: when the bound exceeds the cap the *actual*
           bucket count may still be small (sparse archives), so reject only
           on a real count — a scalar aggregate job that never materializes
           rows on the driver. This replaces the reference's
           collect-then-check (``app/services/get_aggregations.py:506-510``),
           whose failure mode at scale is materializing millions of buckets
           driver-side only to raise.

        ``time_col`` counts distinct bucket timestamps instead of rows for
        long-form results that carry one row per (bucket, band) cell.
        """
        bound = expected_point_count(start, end, interval_s) + 1
        if bound <= MAX_AGGREGATION_POINTS:
            return
        probe = bucketed.select(time_col).distinct() if time_col else bucketed
        check_point_cap(probe.count(), what)

    # ---------------------------------------------------------------- options

    def _options(self, hydrophone: str | None = None) -> dict:
        """Archive inventory (reference GET /options,
        ``app/services/get_options.py:216-224``)."""
        if hydrophone is not None:
            slug = _norm_slug(hydrophone)
            rows = [r for r in self._catalog if r["hydrophone"] == slug]
        else:
            # C7: the all-hydrophone listing omits the untrustworthy sandbox
            # archive; an explicit request still reaches it (reference
            # ``app/services/get_options.py:59-64``, ``README.md:66-70``)
            rows = [r for r in self._catalog if r["hydrophone"] != "SANDBOX"]
        if hydrophone is not None and not rows:
            raise UnknownHydrophoneError(f"unknown hydrophone {hydrophone!r}")
        out: dict = {}
        for r in rows:
            h = out.setdefault(
                r["hydrophone"],
                {"broadband": {}, "octave_bands": {}, "delta_hz": {}},
            )
            coverage = {
                "first_start": r["first_start"].isoformat(),
                "last_end": r["last_end"].isoformat(),
                "file_count": r["file_count"],
            }
            if r["freq_type"] == "broadband":
                h["broadband"][r["delta_t"]] = coverage
            else:
                h[r["freq_type"]][(r["delta_f"], r["delta_t"])] = coverage
        return out

    # ------------------------------------------------------------- timeseries

    def _broadband_timeseries(
        self,
        hydrophone: str,
        start: datetime,
        end: datetime,
        delta_t: int = 1,
        validate: bool = True,
    ) -> dict:
        """Reference GET /timeseries/broadband
        (``app/services/get_timeseries.py:233-271``)."""
        slug = _norm_slug(hydrophone)
        start, end = to_naive_utc(start), to_naive_utc(end)
        if delta_t <= 0:
            raise RequestValidationError("delta_t must be positive")
        validate_window(start, end, max_days=MAX_WINDOW_DAYS)
        if validate:
            validate_request(
                self._catalog, slug, "broadband", None, delta_t,
                start, end,
            )
        pts_df = (
            self._scan("broadband", None, delta_t, slug, start, end)
            .filter(is_finite(F.col("value")))
            .select(iso_format(F.col("ts")).alias("ts"), "value")
        )
        points = sorted((r["ts"], float(r["value"])) for r in pts_df.collect())
        integrity_probe(
            len(points),
            self._matching_file_count(slug, "broadband", None, delta_t, start, end)
            if not points
            else 1,
        )
        return {
            "hydrophone": slug,
            "delta_t": delta_t,
            "points": points,
            "point_count": len(points),
            "expected_point_count": expected_point_count(start, end, delta_t),
        }

    def _psd_timeseries(
        self,
        hydrophone: str,
        start: datetime,
        end: datetime,
        delta_t: int = 1,
        delta_f: str = "3oct",
        validate: bool = True,
    ) -> dict:
        """Reference GET /timeseries/psd
        (``app/services/get_timeseries.py:287-335``): times × frequencies ×
        matrix envelope; band columns discovered from the data."""
        slug = _norm_slug(hydrophone)
        start, end = to_naive_utc(start), to_naive_utc(end)
        freq_type, freq_value = _parse_delta_f(delta_f)
        validate_window(start, end, max_days=MAX_WINDOW_DAYS)
        if validate:
            validate_request(
                self._catalog, slug, freq_type, freq_value,
                delta_t, start, end,
            )
        scan = self._scan(freq_type, freq_value, delta_t, slug, start, end)
        cells = scan.groupBy("ts", "band_hz").agg(
            F.avg("value").alias("value")
        ).collect()
        if not cells:
            integrity_probe(
                0,
                self._matching_file_count(
                    slug, freq_type, freq_value, delta_t, start, end
                ),
            )
            return {
                "hydrophone": slug, "delta_t": delta_t, "delta_f": delta_f,
                "times": [], "frequencies": [], "values": [],
            }
        times, bands, values = _pivot(cells, "ts", "value")
        return {
            "hydrophone": slug,
            "delta_t": delta_t,
            "delta_f": delta_f,
            "times": [t.isoformat() for t in times],
            "frequencies": [str(b) for b in bands],
            "values": values,
        }

    # ------------------------------------------------------------ aggregations

    def _broadband_aggregation(
        self,
        hydrophone: str,
        start: datetime,
        end: datetime,
        interval: str = "auto",
        delta_t: int = 1,
        validate: bool = True,
    ) -> dict:
        """Reference GET /aggregations/broadband
        (``app/services/get_aggregations.py:468-523``): tumbling-window mean
        as ONE global plan — no month chunking, no last-wins merge (U1)."""
        slug = _norm_slug(hydrophone)
        start, end = to_naive_utc(start), to_naive_utc(end)
        interval = resolve_interval(start, end, interval)
        validate_interval_fits(start, end, interval)
        if validate:
            validate_request(
                self._catalog, slug, "broadband", None, delta_t,
                start, end,
            )
        scan = self._scan("broadband", None, delta_t, slug, start, end)
        bucketed = agg.resample_mean(scan, INTERVALS[interval])
        self._precollect_point_cap(
            bucketed, start, end, INTERVALS[interval], "broadband aggregation"
        )
        buckets = bucketed.select(
            iso_format(F.col("bucket_ts")).alias("t"), "mean_value"
        ).collect()
        check_point_cap(len(buckets), "broadband aggregation")
        points = _finite_points(buckets)
        return {
            "hydrophone": slug, "interval": interval, "points": points,
            "point_count": len(points),
        }

    def _band_aggregation(
        self,
        hydrophone: str,
        start: datetime,
        end: datetime,
        interval: str = "auto",
        delta_t: int = 1,
        delta_f: str = "3oct",
        band_low: float = 63.0,
        band_high: float = 8000.0,
        validate: bool = True,
    ) -> dict:
        """Band-range mean series (reference ``_mean_band_range`` P4/A4,
        ``app/services/get_aggregations.py:57-75``): arithmetic dB mean with
        null-skip — not power integration."""
        slug = _norm_slug(hydrophone)
        start, end = to_naive_utc(start), to_naive_utc(end)
        freq_type, freq_value = _parse_delta_f(delta_f)
        interval = resolve_interval(start, end, interval)
        validate_interval_fits(start, end, interval)
        if validate:
            validate_request(
                self._catalog, slug, freq_type, freq_value,
                delta_t, start, end,
            )
        scan = self._scan(freq_type, freq_value, delta_t, slug, start, end)
        bucketed = agg.band_mean(scan, INTERVALS[interval], band_low, band_high)
        self._precollect_point_cap(
            bucketed, start, end, INTERVALS[interval], "band aggregation"
        )
        buckets = bucketed.select(
            iso_format(F.col("bucket_ts")).alias("t"), "mean_value"
        ).collect()
        check_point_cap(len(buckets), "band aggregation")
        # no finite bucket: tell "no band in range" (a 400) apart from
        # in-band rows that are all non-finite (an empty series)
        if not buckets and scan.filter(
            F.col("band_hz").between(band_low, band_high)
        ).limit(1).count() == 0:
            raise RequestValidationError(
                f"no PSD bands in range [{band_low}, {band_high}]"
            )
        return {
            "hydrophone": slug, "interval": interval,
            "band_low": float(band_low), "band_high": float(band_high),
            "points": _finite_points(buckets),
        }

    def _psd_heatmap(
        self,
        hydrophone: str,
        start: datetime,
        end: datetime,
        interval: str = "auto",
        delta_t: int = 1,
        delta_f: str = "3oct",
        validate: bool = True,
    ) -> dict:
        """Reference GET /aggregations/psd
        (``app/services/get_aggregations.py:548-619``): the day-chunk loop +
        last-wins merge + schema check becomes one
        groupBy(bucket, band).agg(avg) plan (SURVEY.md §3.2)."""
        slug = _norm_slug(hydrophone)
        start, end = to_naive_utc(start), to_naive_utc(end)
        freq_type, freq_value = _parse_delta_f(delta_f)
        if freq_type == "broadband":
            raise RequestValidationError(
                "psd heatmap requires a banded delta_f (e.g. '3oct')"
            )
        interval = resolve_interval(start, end, interval)
        validate_interval_fits(start, end, interval)
        if validate:
            validate_request(
                self._catalog, slug, freq_type, freq_value,
                delta_t, start, end,
            )
        scan = self._scan(freq_type, freq_value, delta_t, slug, start, end)
        cell_df = agg.resample_mean(scan, INTERVALS[interval], keys=["band_hz"])
        self._precollect_point_cap(
            cell_df, start, end, INTERVALS[interval], "psd heatmap",
            time_col="bucket_ts",
        )
        times, bands, values = _pivot(cell_df.collect(), "bucket_ts", "mean_value")
        check_point_cap(len(times), "psd heatmap")
        return {
            "hydrophone": slug, "interval": interval, "delta_f": delta_f,
            "times": [t.isoformat() for t in times],
            "frequencies": [str(b) for b in bands],
            "values": values,
        }

    def _daily_summary(
        self,
        hydrophone: str,
        start_date: datetime,
        num_days: int = 7,
        interval: str = "15m",
        delta_t: int = 1,
        delta_f: str = "3oct",
    ) -> dict:
        """Reference GET /aggregations/daily-summary
        (``app/services/get_aggregations.py:310-404``): time-of-day
        mean/min/max/count series from ONE grouped pass (A5/A7/A8); count is
        mean-of-day-counts (``README.md:137``)."""
        slug = _norm_slug(hydrophone)
        start = to_naive_utc(start_date)
        end = start + timedelta(days=num_days)
        freq_type, freq_value = _parse_delta_f(delta_f)
        if interval not in INTERVALS:
            raise RequestValidationError(f"unknown interval {interval!r}")
        scan = self._scan(freq_type, freq_value, delta_t, slug, start, end)
        series = agg.daily_summary_series(
            agg.daily_summary(scan, INTERVALS[interval])
        ).collect()
        check_point_cap(len(series), "daily summary")
        series.sort(key=lambda r: r["tod_s"])

        def tod_label(s: int) -> str:
            return f"{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}"

        out = {"mean": [], "min": [], "max": [], "count": []}
        for r in series:
            label = tod_label(int(r["tod_s"]))
            for key, col in (
                ("mean", "mean_series"), ("min", "min_series"),
                ("max", "max_series"), ("count", "count_series"),
            ):
                v = r[col]
                if v is not None and math.isfinite(v):
                    out[key].append((label, float(v)))
        return {
            "hydrophone": slug, "interval": interval, "num_days": num_days,
            "series": out,
        }

    def _daily_broadband_summary(
        self,
        hydrophone: str,
        start_date: datetime,
        num_days: int = 7,
        delta_t: int = 1,
    ) -> dict:
        """Reference GET /aggregations/daily-broadband-summary
        (``app/services/get_aggregations.py:412-464``): one true broadband
        mean per calendar day (A6)."""
        slug = _norm_slug(hydrophone)
        start = to_naive_utc(start_date)
        end = start + timedelta(days=num_days)
        scan = self._scan("broadband", None, delta_t, slug, start, end)
        days = agg.daily_broadband(scan).collect()
        check_point_cap(len(days), "daily broadband summary")
        days.sort(key=lambda r: r["day"])
        return {
            "hydrophone": slug, "num_days": num_days,
            "points": [
                (r["day"].isoformat(), float(r["mean_value"]))
                for r in days
                if math.isfinite(r["mean_value"])
            ],
        }


def _parse_delta_f(delta_f: str) -> tuple[str, int | None]:
    """Driver-side delta_f selector parse (reference
    ``app/services/get_timeseries.py:84-98``)."""
    s = delta_f.strip().lower()
    if s == "broadband":
        return "broadband", None
    if s.endswith("oct") and s[:-3].isdigit():
        return "octave_bands", int(s[:-3])
    if s.endswith("hz") and s[:-2].isdigit():
        return "delta_hz", int(s[:-2])
    raise RequestValidationError(f"invalid delta_f selector {delta_f!r}")


def _finite_points(buckets: list) -> list[tuple[str, float]]:
    """Collected ``(t, mean_value)`` buckets → time-ordered finite points.
    The payload is capped, so ordering on the driver replaces a global
    ``orderBy`` (a sampling job plus a range exchange)."""
    return sorted(
        (r["t"], float(r["mean_value"]))
        for r in buckets
        if math.isfinite(r["mean_value"])
    )


def _pivot(cells: list, time_col: str, value_col: str):
    """Long ``(time, band_hz, value)`` cells → ``(times, bands, values)``:
    sorted times and bands and a time × band matrix, missing and non-finite
    cells as None. A time whose cells are all null is dropped, as in
    ``timeseries.psd_matrix`` (reference ``dropna(how='all')``)."""
    by_time: dict = {}
    for r in cells:
        by_time.setdefault(r[time_col], {})[r["band_hz"]] = r[value_col]
    bands = sorted({r["band_hz"] for r in cells})
    times = sorted(
        t for t, row in by_time.items() if any(v is not None for v in row.values())
    )
    return times, bands, [
        [_json_float(by_time[t].get(b)) for b in bands] for t in times
    ]


def _json_float(v) -> float | None:
    """Non-finite → None at the serialization edge (reference P6,
    ``README.md:138``)."""
    if v is None or not math.isfinite(v):
        return None
    return float(v)
