"""bench.py: the one registry-query timer and the budgeted result line.

The timer must materialize the whole result through a noop sink: a
``count()`` lets Catalyst prune the output columns it does not read, so
per-row projection work would never be timed. The last stdout line must
fit the ~2,000-character output tail the bench record keeps.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrameWriter
from pyspark.sql.classic.dataframe import DataFrame

import bench
from ambient_sound_analysis_api_spark.registry import queries


def test_timer_writes_a_noop_sink_and_never_counts(spark, sf_dir, monkeypatch):
    saves = []
    real_save = DataFrameWriter.save

    def save(self, *args, **kwargs):
        saves.append(1)
        return real_save(self, *args, **kwargs)

    def count(self):
        raise AssertionError("the timer must not time a count()")

    monkeypatch.setattr(DataFrameWriter, "save", save)
    monkeypatch.setattr(DataFrame, "count", count)
    t = bench.time_phases(spark, queries()["tpch_q1_pricing"], sf_dir)
    assert len(saves) == 2  # one noop write per run, best of 2
    assert t["exec"] > 0
    assert abs(t["build"] + t["plan"] + t["exec"] - t["total"]) < 1e-9


def _line(sec: float) -> dict:
    out = {
        "metric": "headline_total_runtime",
        "value": round(sec * len(bench.HEADLINE), 3),
        "unit": "sec",
        "queries": {q: sec for q in bench.HEADLINE},
        "sf": 0.1,
    }
    line = bench._fit_line(out)
    assert len(line) <= 1950
    return json.loads(line)


def test_fit_line_trims_queries_only_when_over_budget():
    slow = _line(9999.99)
    assert slow["queries_trimmed"] is True
    assert 0 < len(slow["queries"]) < len(bench.HEADLINE)
    fast = _line(0.5)
    assert "queries_trimmed" not in fast
    assert set(fast["queries"]) == set(bench.HEADLINE)
    assert len(fast["queries"]) == 65
