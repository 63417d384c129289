"""Span tracing for the benchmark's traced runs.

Wraps the public entry points of each package layer from outside the
package: nothing here is imported by the package, and an untraced run never
installs it. Spans live in memory and are written once, at exit.

A span is ``[id, parent, name, op, t0, t1, jobs]``: ``op`` is the request id
or query name the span belongs to, ``jobs`` the number of Spark jobs started
in the op's job group while the span was open (``None`` where not counted).
Every op runs under its own Spark job group (``setJobGroup``), so job counts
come from ``statusTracker().getJobIdsForGroup`` and need no listener.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self._sc = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.spans: list[list] = []

    def bind(self, spark) -> None:
        """Attach the session once it exists; spans before this (the
        session start itself) carry no job counts."""
        self._sc = spark.sparkContext
        self._bus = self._sc._jsc.sc().listenerBus()

    # -- job groups -------------------------------------------------------
    def begin_op(self, op: str) -> None:
        """Bind the calling thread to ``op``: its spans and Spark jobs."""
        self._local.op = op
        self._local.stack = []
        self._sc.setJobGroup(op, op)

    def jobs(self, op: str) -> int:
        # job-start events reach the status store through the async
        # listener bus; drain it so the count includes every started job
        self._bus.waitUntilEmpty()
        return len(self._sc.statusTracker().getJobIdsForGroup(op))

    # -- spans ------------------------------------------------------------
    def span(self, name: str, fn, *args, count_jobs: bool = False, **kwargs):
        op = getattr(self._local, "op", None)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        counting = count_jobs and op is not None and self._sc is not None
        j0 = self.jobs(op) if counting else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            jobs = self.jobs(op) - j0 if counting else None
            self.spans.append([sid, parent, name, op, t0, t1, jobs])

    def wrap(self, name: str, fn, count_jobs: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, count_jobs=count_jobs, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str, count_jobs: bool = False) -> None:
        setattr(owner, attr, self.wrap(name, getattr(owner, attr), count_jobs))

    def reset(self) -> None:
        self.spans = []

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# Engine route methods: the memoized public entry (``serving.<route>``) and
# the undecorated body it runs on a memo miss (``serving.miss.<route>``).
ENGINE_ROUTES = (
    "options", "broadband_timeseries", "psd_timeseries",
    "broadband_aggregation", "band_aggregation", "psd_heatmap",
    "daily_summary", "daily_broadband_summary",
)


def install_spark_actions(tr: Tracer) -> None:
    """Spark execution layer: every action the package or the benchmark
    calls goes through one of these four methods (``first``/``take``/
    ``head`` reach ``collect``)."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    for owner, attr in (
        (DataFrame, "collect"), (DataFrame, "count"),
        (DataFrame, "toPandas"), (DataFrameWriter, "save"),
    ):
        tr.patch(owner, attr, f"spark.{attr}", count_jobs=True)


def install_serving(tr: Tracer) -> None:
    """Set-up, serving, validation and plan-builder layers of the HTTP path.
    Call before the session and the Engine are built."""
    from ambient_sound_analysis_api_spark import http_api, serving, session
    from ambient_sound_analysis_api_spark.operators import aggregations, timeseries
    from ambient_sound_analysis_api_spark.sources import domain, listing

    tr.patch(session, "get_spark", "setup.session")
    tr.patch(domain, "materialize_domain", "setup.materialize", count_jobs=True)
    tr.patch(domain, "write_partitioned", "setup.ingest")
    tr.patch(serving, "build_catalog", "setup.catalog")
    orig_auto = listing.auto_lister

    def auto_lister(*args, **kwargs):
        lister = orig_auto(*args, **kwargs)
        tr.patch(lister, "list_keys", "setup.listing")
        return lister

    listing.auto_lister = auto_lister

    tr.patch(serving, "validate_request", "validation.validate_request",
             count_jobs=True)
    for fn in ("resample_mean", "band_mean", "daily_summary",
               "daily_summary_series", "daily_broadband"):
        tr.patch(aggregations, fn, f"plan.aggregations.{fn}")
    for fn in ("window_filter", "psd_matrix"):
        tr.patch(timeseries, fn, f"plan.timeseries.{fn}")
    for fn in ("resolve_interval", "validate_window", "validate_interval_fits",
               "check_point_cap", "expected_point_count", "to_naive_utc"):
        tr.patch(serving, fn, f"plan.planner.{fn}")
    tr.patch(serving.Engine, "_data", "serving.read_parquet")
    for route in ENGINE_ROUTES:
        tr.patch(serving.Engine, f"_{route}", f"serving.miss.{route}")

    orig_make = http_api.make_handler

    def make_handler(*args, **kwargs):
        handler = orig_make(*args, **kwargs)
        do_get = handler.do_GET

        def traced_get(self):
            tr.begin_op(self.headers.get("X-Bench-Id", "unlabelled"))
            tr.span("http.request", do_get, self, count_jobs=True)

        handler.do_GET = traced_get
        tr.patch(handler, "_dispatch", "http.dispatch")
        tr.patch(handler, "_send", "http.send")
        return handler

    http_api.make_handler = make_handler
    install_spark_actions(tr)


def wrap_engine_routes(tr: Tracer, engine) -> None:
    """Span each memoized route entry of a built Engine, keeping its
    ``cache_info`` reachable."""
    for route in ENGINE_ROUTES:
        memo = getattr(engine, route)
        traced = tr.wrap(f"serving.{route}", memo)
        traced.cache_info = memo.cache_info
        setattr(engine, route, traced)
