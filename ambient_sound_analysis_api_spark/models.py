"""Typed response models for Engine payloads.

The stdlib analog of the reference's Pydantic response layer
(``app/models/responses.py:1-129``): every serving envelope has a declared
shape, and a payload that drifts from it fails loudly instead of shipping a
malformed body. FastAPI/Pydantic are not in this environment, so the models
are declarative specs checked by a ~60-line structural validator — the
contract is the point, not the framework.

Usage::

    from ambient_sound_analysis_api_spark import models
    models.validate("broadband_timeseries", payload)   # raises on drift

The HTTP front can switch this on per-handler (``make_handler(...,
validate_responses=True)``); tests run every endpoint through it.
"""

from __future__ import annotations

from typing import Any


class ResponseSchemaError(TypeError):
    """A serving payload does not match its declared response model."""


# ---------------------------------------------------------------------------
# spec combinators: a spec is a type, a tuple of specs (fixed-length
# sequence), a 1-element list [spec] (homogeneous sequence), a dict of
# field -> spec (all required), or one of the markers below.

class _Marker:
    def __init__(self, *args: Any):
        self.args = args


def Nullable(spec: Any) -> _Marker:          # noqa: N802 - type-like
    return _Marker("nullable", spec)


def MapOf(key_spec: Any, val_spec: Any) -> _Marker:   # noqa: N802
    return _Marker("map", key_spec, val_spec)


#: (iso_timestamp, value) serving point
POINT = (str, float)
#: (label, value) time-of-day point
TOD_POINT = (str, float)

#: coverage cell in the options envelope
_COVERAGE = {"first_start": str, "last_end": str, "file_count": int}

SCHEMAS: dict[str, Any] = {
    # GET /health — load-balancer liveness probe (reference
    # app/models/responses.py:6-7 HealthResponse)
    "health": {"status": str},
    # GET /options — {HYDROPHONE: {broadband: {dt: cov}, octave_bands:
    # {(df,dt): cov}, delta_hz: {(df,dt): cov}}}
    "options": MapOf(
        str,
        {
            "broadband": MapOf(int, _COVERAGE),
            "octave_bands": MapOf(tuple, _COVERAGE),
            "delta_hz": MapOf(tuple, _COVERAGE),
        },
    ),
    # GET /timeseries/broadband
    "broadband_timeseries": {
        "hydrophone": str,
        "delta_t": int,
        "points": [POINT],
        "point_count": int,
        "expected_point_count": int,
    },
    # GET /timeseries/psd — matrix envelope, non-finite cells → None
    "psd_timeseries": {
        "hydrophone": str,
        "delta_t": int,
        "delta_f": str,
        "times": [str],
        "frequencies": [str],
        "values": [[Nullable(float)]],
    },
    # GET /aggregations/broadband
    "broadband_aggregation": {
        "hydrophone": str,
        "interval": str,
        "points": [POINT],
        "point_count": int,
    },
    # GET /aggregations/band
    "band_aggregation": {
        "hydrophone": str,
        "interval": str,
        "band_low": float,
        "band_high": float,
        "points": [POINT],
    },
    # GET /aggregations/psd
    "psd_heatmap": {
        "hydrophone": str,
        "interval": str,
        "delta_f": str,
        "times": [str],
        "frequencies": [str],
        "values": [[Nullable(float)]],
    },
    # GET /aggregations/daily-summary
    "daily_summary": {
        "hydrophone": str,
        "interval": str,
        "num_days": int,
        "series": {
            "mean": [TOD_POINT],
            "min": [TOD_POINT],
            "max": [TOD_POINT],
            "count": [TOD_POINT],
        },
    },
    # GET /aggregations/daily-broadband-summary
    "daily_broadband_summary": {
        "hydrophone": str,
        "num_days": int,
        "points": [POINT],
    },
}


def _check(value: Any, spec: Any, path: str) -> None:
    if isinstance(spec, _Marker):
        kind = spec.args[0]
        if kind == "nullable":
            if value is None:
                return
            _check(value, spec.args[1], path)
            return
        if kind == "map":
            key_spec, val_spec = spec.args[1], spec.args[2]
            if not isinstance(value, dict):
                raise ResponseSchemaError(f"{path}: expected mapping, got {type(value).__name__}")
            for k, v in value.items():
                _check(k, key_spec, f"{path}.<key {k!r}>")
                _check(v, val_spec, f"{path}[{k!r}]")
            return
        raise AssertionError(f"unknown marker {kind}")
    if isinstance(spec, dict):
        if not isinstance(value, dict):
            raise ResponseSchemaError(f"{path}: expected object, got {type(value).__name__}")
        missing = set(spec) - set(value)
        extra = set(value) - set(spec)
        if missing or extra:
            raise ResponseSchemaError(
                f"{path}: field mismatch (missing={sorted(missing)}, extra={sorted(extra)})"
            )
        for field, sub in spec.items():
            _check(value[field], sub, f"{path}.{field}")
        return
    if isinstance(spec, list):  # homogeneous sequence
        if not isinstance(value, (list, tuple)):
            raise ResponseSchemaError(f"{path}: expected sequence, got {type(value).__name__}")
        for i, item in enumerate(value):
            _check(item, spec[0], f"{path}[{i}]")
        return
    if isinstance(spec, tuple):
        # fixed-length positional sequence of sub-specs, e.g. (str, float)
        if not isinstance(value, (list, tuple)) or len(value) != len(spec):
            raise ResponseSchemaError(
                f"{path}: expected {len(spec)}-element sequence, got {value!r}"
            )
        for i, (item, sub) in enumerate(zip(value, spec)):
            _check(item, sub, f"{path}[{i}]")
        return
    if isinstance(spec, type):
        # bool is an int subclass; keep them distinct. float accepts int
        # only where the engine guarantees float emission — it doesn't, so
        # exact typing: float means float.
        if spec is float:
            ok = isinstance(value, float) and not isinstance(value, bool)
        elif spec is int:
            ok = isinstance(value, int) and not isinstance(value, bool)
        elif spec is tuple:
            ok = isinstance(value, tuple)
        else:
            ok = isinstance(value, spec)
        if not ok:
            raise ResponseSchemaError(
                f"{path}: expected {spec.__name__}, got {type(value).__name__} ({value!r})"
            )
        return
    raise AssertionError(f"bad spec at {path}: {spec!r}")


def validate(kind: str, payload: Any) -> Any:
    """Structurally validate ``payload`` against the ``kind`` response model.

    Returns the payload (chainable); raises :class:`ResponseSchemaError`
    naming the offending path on any drift.
    """
    if kind not in SCHEMAS:
        raise KeyError(f"unknown response model {kind!r}")
    _check(payload, SCHEMAS[kind], kind)
    return payload
