from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from ambient_sound_analysis_api_spark.errors import (
    OutsideCoverageError,
    TimeseriesDataIntegrityError,
    UnavailableCombinationError,
    UnknownHydrophoneError,
    WindowTooLargeError,
)
from ambient_sound_analysis_api_spark.operators.planner import (
    expected_point_count,
    validate_window,
)
from ambient_sound_analysis_api_spark.operators.timeseries import (
    broadband_points,
    psd_matrix,
    window_filter,
)
from ambient_sound_analysis_api_spark.operators.validation import (
    integrity_probe,
    validate_request,
)

T0 = datetime(2020, 1, 1)


@pytest.fixture(scope="module")
def catalog(spark):
    rows = [
        ("ORCASOUND_LAB", "broadband", None, 1,
         datetime(2020, 1, 1), datetime(2021, 10, 31), 22),
        ("ORCASOUND_LAB", "octave_bands", 3, 1,
         datetime(2020, 1, 1), datetime(2021, 10, 31), 22),
    ]
    return spark.createDataFrame(
        rows,
        "hydrophone string, freq_type string, delta_f int, delta_t int, "
        "first_start timestamp, last_end timestamp, file_count long",
    )


def test_window_filter_inclusivity(spark):
    # start inclusive, end exclusive (reference app/api/timeseries.py:21-22)
    rows = [(T0 + timedelta(seconds=i), float(i)) for i in range(4)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = window_filter(df, T0, T0 + timedelta(seconds=2)).collect()
    assert sorted(r["value"] for r in out) == [0.0, 1.0]


def test_broadband_points_order_and_nonfinite(spark):
    rows = [
        ("h1", T0 + timedelta(seconds=2), 3.0),
        ("h1", T0, 1.0),
        ("h1", T0 + timedelta(seconds=1), float("nan")),
        ("h2", T0, 99.0),
    ]
    df = spark.createDataFrame(rows, "hydrophone string, ts timestamp, value double")
    pts = broadband_points(df, "h1", T0, T0 + timedelta(days=1)).collect()
    assert [r["value"] for r in pts] == [1.0, 3.0]


def test_psd_matrix_drops_all_null_rows(spark):
    rows = [
        (T0, 63.0, 1.0),
        (T0, 125.0, 2.0),
        (T0 + timedelta(seconds=1), 8000.0, 9.0),  # outside band list
    ]
    long = spark.createDataFrame(rows, "ts timestamp, band_hz double, value double")
    wide = psd_matrix(long, [63.0, 125.0]).collect()
    assert len(wide) == 1  # second timestamp row is all-null → dropped
    assert wide[0]["band_63"] == 1.0 and wide[0]["band_125"] == 2.0


def test_validate_request_taxonomy(catalog):
    rows = catalog.collect()
    ok = dict(freq_type="broadband", delta_f=None, delta_t=1,
              start=datetime(2020, 6, 1), end=datetime(2020, 6, 2))
    validate_request(rows, "ORCASOUND_LAB", **ok)
    validate_request(
        rows, "ORCASOUND_LAB", freq_type="octave_bands", delta_f=3,
        delta_t=1, start=ok["start"], end=ok["end"],
    )
    with pytest.raises(UnknownHydrophoneError):
        validate_request(rows, "NOPE", **ok)
    with pytest.raises(UnavailableCombinationError):
        validate_request(
            rows, "ORCASOUND_LAB", freq_type="octave_bands",
            delta_f=6, delta_t=1, start=ok["start"], end=ok["end"],
        )
    with pytest.raises(OutsideCoverageError):
        validate_request(
            rows, "ORCASOUND_LAB", freq_type="broadband",
            delta_f=None, delta_t=1,
            start=datetime(2025, 1, 1), end=datetime(2025, 1, 2),
        )


def test_integrity_probe():
    integrity_probe(10, 1)
    integrity_probe(0, 0)
    with pytest.raises(TimeseriesDataIntegrityError):
        integrity_probe(0, 2)


def test_window_guards():
    with pytest.raises(WindowTooLargeError):
        validate_window(T0, T0 + timedelta(days=32), max_days=31)
    validate_window(T0, T0 + timedelta(days=31), max_days=31)
    assert expected_point_count(T0, T0 + timedelta(seconds=2), 1) == 2
    assert expected_point_count(T0, T0 + timedelta(seconds=3), 2) == 2
