"""Regression guard for driver-side ``events.parquet`` encoding changes.

Round 3 shipped broken because the driver regenerated ``events.parquet`` as
``timestamp[us]`` with ``isAdjustedToUTC=false`` — Spark reads that as
``TIMESTAMP_NTZ``, which ``unix_micros`` (and session/tumbling windows built
on it) reject. Earlier rounds carried ``TIMESTAMP(NANOS)``, which the
vectorized reader only accepts as raw longs via ``nanosAsLong``.

Both encodings are committed here as tiny fixtures; the one read boundary
(``sources.domain._read_events``, which the registry imports as
``registry._events``) must normalize each to a plain microsecond TIMESTAMP
with identical values. If the normalization branch is removed, these tests
fail first.
"""

from __future__ import annotations

import os
import shutil

import pytest

from ambient_sound_analysis_api_spark import registry
from ambient_sound_analysis_api_spark.sources import domain

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

# Expected `ts` values (naive UTC) shared by both fixtures.
EXPECTED_TS = [
    "2024-01-05 00:00:00",
    "2024-01-05 00:02:30",
    "2024-01-05 00:05:00",
    "2024-01-05 01:00:00",
    "2024-01-06 12:00:00",
    "2024-01-07 23:59:59",
]


def _stage(tmp_path, fixture: str) -> str:
    """Copy a fixture into a tmp dir under the canonical name."""
    dst = tmp_path / fixture
    dst.mkdir()
    shutil.copy(
        os.path.join(FIXTURES, f"{fixture}.parquet"),
        dst / "events.parquet",
    )
    return str(dst)


@pytest.mark.parametrize("fixture", ["events_ntz", "events_nanos"])
def test_events_boundary_normalizes_to_timestamp(spark, tmp_path, fixture):
    """The registry and the domain materialization read events through the
    same function."""
    assert registry._events is domain._read_events
    sf_dir = _stage(tmp_path, fixture)
    df = registry._events(spark, sf_dir)
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [str(r.ts) for r in df.orderBy("event_id").collect()]
    assert got == EXPECTED_TS


@pytest.mark.parametrize("fixture", ["events_ntz", "events_nanos"])
def test_domain_read_events_normalizes_to_timestamp(spark, tmp_path, fixture):
    sf_dir = _stage(tmp_path, fixture)
    df = domain._read_events(spark, sf_dir)
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [str(r.ts) for r in df.orderBy("event_id").collect()]
    assert got == EXPECTED_TS


@pytest.mark.parametrize("fixture", ["events_ntz", "events_nanos"])
def test_events_window_filter_applies_before_normalization(spark, tmp_path, fixture):
    """start-incl / end-excl window bounds must hit the raw scan column
    (pushdown-eligible) and still return the right rows on either encoding."""
    from datetime import datetime

    sf_dir = _stage(tmp_path, fixture)
    df = registry._events(
        spark, sf_dir, datetime(2024, 1, 5), datetime(2024, 1, 6)
    )
    assert [r.event_id for r in df.orderBy("event_id").collect()] == [1, 2, 3, 4]


@pytest.mark.parametrize("fixture", ["events_ntz", "events_nanos"])
def test_flagship_path_runs_on_either_encoding(spark, tmp_path, fixture):
    """The driver smoke-entry's query (tumbling 5-min mean — the exact path
    that crashed in round 3) must execute end-to-end on both encodings."""
    sf_dir = _stage(tmp_path, fixture)
    rows = registry.queries()["agg_bucket_mean_5m"](spark, sf_dir).collect()
    assert len(rows) > 0


def test_flagship_smoke_entry_executes(spark):
    """`__spark_entry__.entry` against the real driver testdata."""
    import __spark_entry__ as se

    df = se.entry(spark)
    assert df.count() > 0
