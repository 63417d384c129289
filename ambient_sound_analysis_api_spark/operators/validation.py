"""Preflight request validation against the coverage catalog (C4/S5).

The reference validates requests with a linear scan over cached inventory
options plus an interval-overlap test (``app/services/get_timeseries.py:
101-184``). Here it is the same scan over the catalog *snapshot*: the
catalog has one row per product, so the serving Engine collects it once at
construction into a tuple of rows and every preflight is pure Python on
the driver — no Spark job on the request path.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime

from pyspark.sql import Row

from ..errors import (
    OutsideCoverageError,
    TimeseriesDataIntegrityError,
    UnavailableCombinationError,
    UnknownHydrophoneError,
)


def validate_request(
    catalog: Sequence[Row],
    hydrophone: str,
    freq_type: str,
    delta_f: int | None,
    delta_t: int,
    start: datetime,
    end: datetime,
) -> None:
    """Typed preflight rejection, mirroring the reference's 400 taxonomy.

    Raises UnknownHydrophoneError / UnavailableCombinationError /
    OutsideCoverageError in the same precedence order the reference checks
    (``app/services/get_timeseries.py:101-184``) over the collected catalog
    rows. Overlap matches the reference's rejection condition
    ``end < coverage_start or start > coverage_end``
    (``app/services/get_timeseries.py:135-143, 176-184``).
    """
    rows = [r for r in catalog if r["hydrophone"] == hydrophone]
    if not rows:
        raise UnknownHydrophoneError(f"unknown hydrophone {hydrophone!r}")
    combo = [
        r
        for r in rows
        if r["freq_type"] == freq_type
        and r["delta_t"] == delta_t
        # broadband products carry delta_f = None; == is null-safe here
        and (r["delta_f"] == delta_f or freq_type == "broadband")
    ]
    if not combo:
        raise UnavailableCombinationError(
            f"no {freq_type} combination with delta_f={delta_f}, "
            f"delta_t={delta_t} for {hydrophone!r}"
        )
    cover = [
        r for r in combo if not (end < r["first_start"] or start > r["last_end"])
    ]
    if not cover:
        raise OutsideCoverageError(
            "requested window is outside the coverage area"
        )


def integrity_probe(
    pruned_row_count: int, matching_file_count: int, what: str = "timeseries"
) -> None:
    """Files matched by name but zero rows in window ⇒ integrity error.

    Parity with ``_matching_file_count`` + guard
    (``app/services/get_timeseries.py:71-81, 223-229``): archives exist whose
    Parquet content disagrees with the filename range
    (``docs/upstream-notes.md:27-41``).
    """
    if matching_file_count > 0 and pruned_row_count == 0:
        raise TimeseriesDataIntegrityError(
            f"{what}: {matching_file_count} archive file(s) match the window "
            "by name but contain no rows in it"
        )
