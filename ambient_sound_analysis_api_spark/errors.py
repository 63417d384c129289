"""Typed error taxonomy mirroring the reference's HTTP error surface.

The reference maps service failures onto HTTP statuses (400 validation, 502
upstream, 503 unavailable; ``app/api/timeseries.py:33-38``). The engine keeps
them as typed exceptions; a serving layer can map them back onto statuses.
"""

from __future__ import annotations


class EngineError(Exception):
    """Base class for all engine errors."""


class RequestValidationError(EngineError):
    """Invalid request parameters (reference 400s, e.g.
    ``app/services/get_timeseries.py:43-53, 198-201``)."""


class UnknownHydrophoneError(RequestValidationError):
    """Hydrophone slug not present in the catalog
    (reference ``app/services/get_options.py:198-204``)."""


class UnavailableCombinationError(RequestValidationError):
    """No archived product matches the requested (delta_f, delta_t)
    combination (reference ``app/services/get_timeseries.py:114-121``)."""


class OutsideCoverageError(RequestValidationError):
    """Requested window does not overlap archive coverage
    (reference ``app/services/get_timeseries.py:135-143``)."""


class WindowTooLargeError(RequestValidationError):
    """Raw-timeseries window above MAX_WINDOW_DAYS
    (reference ``app/services/get_timeseries.py:19, 52-53``)."""


class PointCapExceededError(RequestValidationError):
    """Aggregation output above MAX_AGGREGATION_POINTS — the reference
    rejects rather than truncates (``app/services/get_aggregations.py:40,
    506-510, 596-600``)."""


class TimeseriesDataIntegrityError(EngineError):
    """Files matched by catalog metadata but the pruned scan returned zero
    rows — filename/content disagreement
    (reference ``app/services/get_timeseries.py:223-229``)."""
