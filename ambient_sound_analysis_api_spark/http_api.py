"""Stdlib HTTP front for the Engine — the reference's FastAPI surface
without the dependency.

The reference is "Thin FastAPI wrapper around orcasound_noise"
(``README.md:2``, ``app/main.py:14-18``); this module is the equivalent
thin wrapper around :class:`~ambient_sound_analysis_api_spark.serving.Engine`
using only ``http.server`` (FastAPI is not available in this environment;
swapping this for FastAPI changes no Engine code). Route table, query-param
names, response envelopes, side-band count headers (``X-Point-Count`` etc.,
reference ``app/api/timeseries.py:30-31``, ``app/api/aggregations.py:91,
125-126``) and the 400 error mapping mirror the reference.

Serving is driver-side by design: each request runs a bounded Spark job and
collects only the capped payload (SURVEY.md §2.9). The HTTP layer is
single-process like the reference; horizontal scale comes from running
multiple fronts against the same Spark cluster / data root.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from . import models
from .errors import EngineError, RequestValidationError
from .serving import Engine

# route → response model (see models.SCHEMAS)
ROUTE_MODELS = {
    "/health": "health",
    "/options": "options",
    "/timeseries/broadband": "broadband_timeseries",
    "/timeseries/psd": "psd_timeseries",
    "/aggregations/broadband": "broadband_aggregation",
    "/aggregations/band": "band_aggregation",
    "/aggregations/psd": "psd_heatmap",
    "/aggregations/daily-summary": "daily_summary",
    "/aggregations/daily-broadband-summary": "daily_broadband_summary",
}


def _parse_ts(value: str) -> datetime:
    try:
        return datetime.fromisoformat(value)
    except ValueError as exc:
        raise RequestValidationError(f"invalid timestamp {value!r}") from exc


def _q(params: dict, name: str, default=None, cast=None):
    if name not in params:
        if default is None and cast is not None and name in ("start", "end", "start_date"):
            raise RequestValidationError(f"missing required parameter {name!r}")
        return default
    raw = params[name][0]
    if cast is None:
        return raw
    try:
        if cast is bool:
            return raw.lower() not in ("false", "0", "no")
        return cast(raw)
    except (TypeError, ValueError) as exc:
        raise RequestValidationError(f"invalid value for {name!r}: {raw!r}") from exc


def _jsonable(obj):
    """Recursively make Engine payloads JSON-ready: tuple dict keys (the
    ``(delta_f, delta_t)`` coverage maps) become ``"f,t"`` strings, mirroring
    how the reference's Pydantic layer flattens them."""
    if isinstance(obj, dict):
        return {
            (",".join(map(str, k)) if isinstance(k, tuple) else str(k)): _jsonable(v)
            for k, v in obj.items()
        }
    if isinstance(obj, (list, tuple)):
        return [_jsonable(v) for v in obj]
    return obj


class TimingLog:
    """S7 per-request timing sink (reference ``app/main.py:48-81``: timing
    middleware logging latency + payload size to stdout and
    ``logs/api-timing.log``).

    One line per completed request: ISO-UTC timestamp, method, path, status,
    wall milliseconds, response bytes, and the point/time count when the
    route exposes one via its ``X-*-Count`` header.
    """

    def __init__(self, path: str | None = "logs/api-timing.log", echo: bool = True):
        self.path = path
        self.echo = echo
        self._lock = threading.Lock()
        if path:
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def record(
        self, method: str, path: str, status: int, wall_ms: float,
        n_bytes: int, points: int | None,
    ) -> None:
        stamp = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
        line = (
            f"{stamp} {method} {path} status={status} "
            f"ms={wall_ms:.1f} bytes={n_bytes}"
            + (f" points={points}" if points is not None else "")
        )
        with self._lock:
            if self.echo:
                print(line, flush=True)
            if self.path:
                with open(self.path, "a") as fh:
                    fh.write(line + "\n")


def make_handler(
    engine: Engine,
    timing: TimingLog | None = None,
    validate_responses: bool = False,
):
    """Build the request-handler class bound to one Engine instance.

    ``validate_responses`` runs every successful payload through its typed
    response model (``models.SCHEMAS``) before serialization — the
    reference's Pydantic response_model discipline; drift becomes a 500
    instead of a silently malformed body.
    """

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self) -> None:  # noqa: N802 (stdlib naming)
            url = urlparse(self.path)
            params = parse_qs(url.query)
            t0 = time.perf_counter()
            status, n_bytes, points = 200, 0, None
            try:
                body, headers = self._dispatch(url.path, params)
                if validate_responses and url.path in ROUTE_MODELS:
                    # drift from the typed model → ResponseSchemaError →
                    # the catch-all 500 below, not a malformed 200 body
                    models.validate(ROUTE_MODELS[url.path], body)
            except RequestValidationError as exc:
                status = 400
                n_bytes = self._send(status, {"detail": str(exc)})
            except EngineError as exc:
                status = 502
                n_bytes = self._send(status, {"detail": str(exc)})
            except Exception:  # noqa: BLE001 — a bug must surface as a
                # structured 500 (the reference's FastAPI does the same),
                # not a dropped connection
                import traceback

                traceback.print_exc()
                status = 500
                n_bytes = self._send(status, {"detail": "internal error"})
            else:
                for key in ("X-Point-Count", "X-Time-Count"):
                    if key in headers:
                        points = int(headers[key])
                        break
                n_bytes = self._send(status, body, headers)
            if timing is not None:
                timing.record(
                    "GET", url.path, status,
                    (time.perf_counter() - t0) * 1000.0, n_bytes, points,
                )

        def _dispatch(self, path: str, p: dict):
            e = engine
            if path == "/health":
                # liveness probe (reference app/api/health.py:9-11) — no
                # engine work, so a wedged Spark session can't fail it
                return {"status": "ok"}, {}
            if path == "/options":
                return e.options(_q(p, "hydrophone")), {}
            if path == "/timeseries/broadband":
                out = e.broadband_timeseries(
                    _q(p, "hydrophone", "", str),
                    _parse_ts(_q(p, "start", cast=str)),
                    _parse_ts(_q(p, "end", cast=str)),
                    _q(p, "delta_t", 1, int),
                    _q(p, "validate", True, bool),
                )
                return out, {
                    "X-Point-Count": len(out["points"]),
                    "X-Expected-Point-Count": out["expected_point_count"],
                }
            if path == "/timeseries/psd":
                out = e.psd_timeseries(
                    _q(p, "hydrophone", "", str),
                    _parse_ts(_q(p, "start", cast=str)),
                    _parse_ts(_q(p, "end", cast=str)),
                    _q(p, "delta_t", 1, int),
                    _q(p, "delta_f", "3oct", str),
                    _q(p, "validate", True, bool),
                )
                return out, {
                    "X-Time-Count": len(out["times"]),
                    "X-Frequency-Count": len(out["frequencies"]),
                }
            if path == "/aggregations/broadband":
                out = e.broadband_aggregation(
                    _q(p, "hydrophone", "", str),
                    _parse_ts(_q(p, "start", cast=str)),
                    _parse_ts(_q(p, "end", cast=str)),
                    _q(p, "interval", "auto", str),
                    _q(p, "delta_t", 1, int),
                    _q(p, "validate", True, bool),
                )
                return out, {"X-Point-Count": len(out["points"])}
            if path == "/aggregations/band":
                out = e.band_aggregation(
                    _q(p, "hydrophone", "", str),
                    _parse_ts(_q(p, "start", cast=str)),
                    _parse_ts(_q(p, "end", cast=str)),
                    _q(p, "interval", "auto", str),
                    _q(p, "delta_t", 1, int),
                    _q(p, "delta_f", "3oct", str),
                    _q(p, "band_low", 63.0, float),
                    _q(p, "band_high", 8000.0, float),
                    _q(p, "validate", True, bool),
                )
                return out, {"X-Point-Count": len(out["points"])}
            if path == "/aggregations/psd":
                out = e.psd_heatmap(
                    _q(p, "hydrophone", "", str),
                    _parse_ts(_q(p, "start", cast=str)),
                    _parse_ts(_q(p, "end", cast=str)),
                    _q(p, "interval", "auto", str),
                    _q(p, "delta_t", 1, int),
                    _q(p, "delta_f", "3oct", str),
                    _q(p, "validate", True, bool),
                )
                return out, {
                    "X-Time-Count": len(out["times"]),
                    "X-Frequency-Count": len(out["frequencies"]),
                }
            if path == "/aggregations/daily-summary":
                out = e.daily_summary(
                    _q(p, "hydrophone", "", str),
                    _parse_ts(_q(p, "start_date", cast=str)),
                    _q(p, "num_days", 7, int),
                    _q(p, "interval", "15m", str),
                    _q(p, "delta_t", 1, int),
                    _q(p, "delta_f", "3oct", str),
                )
                return out, {}
            if path == "/aggregations/daily-broadband-summary":
                out = e.daily_broadband_summary(
                    _q(p, "hydrophone", "", str),
                    _parse_ts(_q(p, "start_date", cast=str)),
                    _q(p, "num_days", 7, int),
                    _q(p, "delta_t", 1, int),
                )
                return out, {}
            raise RequestValidationError(f"unknown route {path}")

        def _send(self, status: int, body: dict, headers: dict | None = None) -> int:
            payload = json.dumps(_jsonable(body), default=str).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            for k, v in (headers or {}).items():
                self.send_header(k, str(v))
            self.end_headers()
            self.wfile.write(payload)
            return len(payload)

        def log_message(self, fmt: str, *args) -> None:  # quiet test output
            pass

    return Handler


def serve(
    engine: Engine,
    port: int = 0,
    timing: TimingLog | None = None,
    validate_responses: bool = False,
) -> ThreadingHTTPServer:
    """Start the API on a daemon thread; returns the server (``.server_port``
    for the bound port, ``.shutdown()`` to stop)."""
    httpd = ThreadingHTTPServer(
        ("127.0.0.1", port),
        make_handler(engine, timing=timing, validate_responses=validate_responses),
    )
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd
