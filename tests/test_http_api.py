"""End-to-end HTTP tests: stdlib server → Engine → Spark → JSON responses,
mirroring the reference's route/param/header/error surface."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from ambient_sound_analysis_api_spark.http_api import TimingLog, serve
from ambient_sound_analysis_api_spark.serving import Engine
from ambient_sound_analysis_api_spark.sources.domain import materialize_domain

WS, WE = "2024-01-05T00:00:00", "2024-01-12T00:00:00"

_TIMING_PATH: list[str] = []


@pytest.fixture(scope="module")
def api(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("http_domain"))
    materialize_domain(spark, sf_dir, root)
    log_path = str(tmp_path_factory.mktemp("logs") / "api-timing.log")
    _TIMING_PATH.clear()
    _TIMING_PATH.append(log_path)
    # validate_responses: every successful payload must match its typed
    # response model (models.SCHEMAS) or the request 500s
    httpd = serve(
        Engine(spark, root),
        timing=TimingLog(log_path, echo=False),
        validate_responses=True,
    )
    yield f"http://127.0.0.1:{httpd.server_port}"
    httpd.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as resp:
        return json.loads(resp.read()), dict(resp.headers)


def test_health_endpoint(api):
    # reference app/api/health.py:9-11 — the load-balancer liveness probe
    body, _ = _get(f"{api}/health")
    assert body == {"status": "ok"}


def test_options_endpoint(api):
    body, _ = _get(f"{api}/options")
    assert "CLICK" in body
    assert "broadband" in body["CLICK"]
    # PSD coverage keyed by "delta_f,delta_t" string
    assert any("," in k for k in body["VIEW"]["octave_bands"])


def test_broadband_timeseries_endpoint(api):
    body, headers = _get(
        f"{api}/timeseries/broadband?hydrophone=click&start={WS}&end={WE}"
    )
    assert body["hydrophone"] == "CLICK"
    assert len(body["points"]) > 0
    assert int(headers["X-Point-Count"]) == len(body["points"])
    assert "X-Expected-Point-Count" in headers
    # points are (iso_ts, value) pairs in ascending time order
    times = [p[0] for p in body["points"]]
    assert times == sorted(times)


def test_psd_heatmap_endpoint(api):
    body, headers = _get(
        f"{api}/aggregations/psd?hydrophone=view&start={WS}&end={WE}&interval=1h"
    )
    assert len(body["times"]) == int(headers["X-Time-Count"])
    assert len(body["frequencies"]) == int(headers["X-Frequency-Count"])
    assert len(body["values"]) == len(body["times"])
    assert all(len(row) == len(body["frequencies"]) for row in body["values"])


def test_validation_maps_to_400(api):
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(f"{api}/timeseries/broadband?hydrophone=nosuch&start={WS}&end={WE}")
    assert exc.value.code == 400
    detail = json.loads(exc.value.read())["detail"]
    assert "nosuch" in detail.lower() or "unknown" in detail.lower()


def test_unknown_route_is_400(api):
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(f"{api}/nope")
    assert exc.value.code == 400


def test_missing_required_param_is_400(api):
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(f"{api}/timeseries/broadband?hydrophone=click")
    assert exc.value.code == 400


def test_band_aggregation_endpoint(api):
    body, headers = _get(
        f"{api}/aggregations/band?hydrophone=view&start={WS}&end={WE}"
        "&interval=1h&band_low=100&band_high=1000"
    )
    assert body["band_low"] == 100.0 and body["band_high"] == 1000.0
    assert len(body["points"]) == int(headers["X-Point-Count"]) > 0


def test_band_aggregation_honours_validate_false(api):
    """``validate=false`` skips the coverage preflight on the band route as
    on every other validating route: a window outside coverage then fails
    on the empty band range, not on the preflight."""
    url = (
        f"{api}/aggregations/band?hydrophone=view"
        "&start=2030-01-01T00:00:00&end=2030-01-02T00:00:00"
    )
    details = []
    for suffix in ("", "&validate=false"):
        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(url + suffix)
        assert exc.value.code == 400
        details.append(json.loads(exc.value.read())["detail"])
    assert "outside the coverage area" in details[0]
    assert "no PSD bands in range" in details[1]


def test_timing_log_line_per_request(api):
    """S7: every completed request (success or error) appends one timing
    line with wall-time and payload size (reference ``app/main.py:48-81``)."""
    import os
    import time

    path = _TIMING_PATH[0]
    # Timing lines are written after the response is flushed to the client,
    # so a previous test's line may still be in flight — wait for the file
    # to go quiet before taking the baseline, then search only the appended
    # region (never positional tail indexing).
    def _lines() -> list[str]:
        return open(path).read().splitlines() if os.path.exists(path) else []

    stable_since, prev = time.monotonic(), _lines()
    while time.monotonic() - stable_since < 0.5:
        cur = _lines()
        if cur != prev:
            prev, stable_since = cur, time.monotonic()
        time.sleep(0.05)
    before = len(prev)
    _get(f"{api}/timeseries/broadband?hydrophone=click&start={WS}&end={WE}")
    with pytest.raises(urllib.error.HTTPError):
        _get(f"{api}/nope")
    deadline = time.monotonic() + 10.0
    new: list[str] = []
    while time.monotonic() < deadline:
        new = _lines()[before:]
        if len(new) >= 2:
            break
        time.sleep(0.05)
    ok_lines = [l for l in new if "GET /timeseries/broadband" in l]
    err_lines = [l for l in new if "GET /nope" in l]
    assert len(ok_lines) == 1 and len(err_lines) == 1
    ok_line, err_line = ok_lines[0], err_lines[0]
    assert "status=200" in ok_line and "ms=" in ok_line and "bytes=" in ok_line
    assert "points=" in ok_line  # X-Point-Count surfaced into the log
    assert "status=400" in err_line


def test_engine_bug_maps_to_500(api):
    """An unexpected exception inside the Engine must surface as a
    structured 500 JSON body, not a dropped connection (ADVICE r1)."""
    with pytest.raises(urllib.error.HTTPError) as exc:
        # num_days overflows datetime arithmetic (OverflowError — neither a
        # RequestValidationError nor an EngineError), i.e. a genuine bug path
        _get(
            f"{api}/aggregations/daily-summary?hydrophone=view"
            "&start_date=2024-01-05T00:00:00&num_days=99999999999"
        )
    assert exc.value.code == 500
    assert json.loads(exc.value.read())["detail"] == "internal error"


def test_daily_summary_endpoints(api):
    body, _ = _get(
        f"{api}/aggregations/daily-summary?hydrophone=view"
        "&start_date=2024-01-05T00:00:00&num_days=7&interval=1h"
    )
    assert set(body["series"]) >= {"mean", "min", "max", "count"}
    daily, _ = _get(
        f"{api}/aggregations/daily-broadband-summary?hydrophone=click"
        "&start_date=2024-01-05T00:00:00&num_days=7"
    )
    assert len(daily["points"]) == 7
