"""Load generator and checks for the ``serve_cold`` workload.

The server (``server.py``) runs in its own process; this client drives it
with one closed-loop client over HTTP, one connection per request, and
times each request from the send to the last body byte.

Requests are drawn from the input ``events`` table, which the domain maps
to hydrophones and bands, so every valid request is known to cover data.
The client sends a never-repeating sequence in blocks of nine: each of the
eight routes once plus one invalid request (unknown hydrophone, window
outside coverage or bad ``delta_f``, all 400).
Block ``b`` puts route ``i`` in window stratum ``(i + b) % 3`` (1 h, 6 h or
2 d; 1, 2 or 4 days on the daily routes) and sends invalid kind ``b % 3``,
so three blocks make a cycle with each route at each stratum once. The
measured phase runs a fixed number of whole cycles, one per ``CYCLE_S`` of
``--seconds``, so every run measures the same mix of routes and sizes and
the same number of requests; the seed draws hydrophones, window starts,
bands and the order within a block.
"""

from __future__ import annotations

import http.client
import itertools
import json
import math
import os
import statistics
import time
from datetime import datetime, timedelta
from urllib.parse import urlencode

import numpy as np
import pyarrow.parquet as pq

from ambient_sound_analysis_api_spark.sources.domain import OCTAVE_BANDS
from common import Child, geomean, info, metric, tail

ROUTES = (
    "/options", "/timeseries/broadband", "/timeseries/psd",
    "/aggregations/broadband", "/aggregations/band", "/aggregations/psd",
    "/aggregations/daily-summary", "/aggregations/daily-broadband-summary",
)
# routes that validate against the catalog, and those taking a delta_f
VALIDATING = ROUTES[1:6]
BANDED = ("/timeseries/psd", "/aggregations/band", "/aggregations/psd")
SPAN_S = (3600, 6 * 3600, 2 * 86400)
DAYS = (1, 2, 4)
CYCLE = len(SPAN_S)
# about what one cycle of 27 requests takes on 4 cores (13-20 s measured)
CYCLE_S = 15
# job counts are averaged over the first measured cycle, which every run
# completes, so the counts repeat exactly for a seed
COUNT_PREFIX = (len(ROUTES) + 1) * CYCLE
DUCKDB_SAMPLE = 4
EPOCH = datetime(1970, 1, 1)


class Request:
    def __init__(self, path: str, params: dict, expect: int = 200):
        self.path, self.params, self.expect = path, params, expect
        self.url = path + ("?" + urlencode(params) if params else "")


class Mix:
    """Seeded request generator over the input events."""

    def __init__(self, input_dir: str, seed: int):
        self.rng = np.random.default_rng([seed, 7])
        events = pq.read_table(f"{input_dir}/events.parquet",
                               columns=["ts", "event_type", "user_id"])
        ts = events["ts"].to_numpy().astype("datetime64[s]").astype(np.int64)
        etype = np.asarray(events["event_type"].to_pylist())
        band = np.asarray(OCTAVE_BANDS)[events["user_id"].to_numpy() % len(OCTAVE_BANDS)]
        self.hydros = sorted(set(etype))
        self.ts = {h: ts[etype == h] for h in self.hydros}
        self.band = {h: band[etype == h] for h in self.hydros}
        self.t0, self.t1 = int(ts.min()), int(ts.max())
        self.seen: set[str] = set()
        self.counter = itertools.count()

    def _iso(self, t: int) -> str:
        return (EPOCH + timedelta(seconds=t)).isoformat()

    def _n(self, h: str, a: int, b: int, lo: float = 0.0, hi: float = 1e9) -> int:
        ts, band = self.ts[h], self.band[h]
        sel = (ts >= a) & (ts < b) & (band >= lo) & (band <= hi)
        return int(sel.sum())

    def _window(self, stratum: int) -> tuple[int, int]:
        span = SPAN_S[stratum]
        start = int(self.rng.integers(self.t0, self.t1 - span))
        return start, start + span

    def _hydro(self) -> str:
        return str(self.rng.choice(self.hydros))

    def valid(self, path: str, stratum: int) -> Request:
        """A request on ``path`` that covers at least one event and has not
        been generated before."""
        while True:
            req = self._valid_once(path, stratum)
            if req is not None and req.url not in self.seen:
                self.seen.add(req.url)
                return req

    def _valid_once(self, path: str, stratum: int) -> Request | None:
        h = self._hydro()
        if path == "/options":
            # distinct spellings of one hydrophone: distinct memo keys
            spelled = "".join(c.upper() if self.rng.random() < 0.5 else c for c in h)
            return Request(path, {"hydrophone": spelled})
        if path.startswith("/aggregations/daily"):
            days = DAYS[stratum]
            start = (self.t0 // 86400 + int(self.rng.integers(0, 28 - days))) * 86400
            if not self._n(h, start, start + days * 86400):
                return None
            params = {"hydrophone": h, "start_date": self._iso(start), "num_days": days}
            if path == "/aggregations/daily-summary":
                params["interval"] = ("15m", "1h", "1h")[stratum]
            return Request(path, params)
        a, b = self._window(stratum)
        params = {"hydrophone": h, "start": self._iso(a), "end": self._iso(b)}
        lo, hi = 0.0, 1e9
        if path == "/aggregations/band":
            i = int(self.rng.integers(0, len(OCTAVE_BANDS) - 4))
            j = int(self.rng.integers(i + 3, len(OCTAVE_BANDS)))
            lo, hi = OCTAVE_BANDS[i], OCTAVE_BANDS[j]
            params.update(band_low=lo, band_high=hi)
        if not self._n(h, a, b, lo, hi):
            return None
        return Request(path, params)

    def invalid(self, kind: int) -> Request:
        """One of the three 400 cases, with distinct parameters."""
        k = next(self.counter)
        if kind == 2:
            path = str(self.rng.choice(BANDED))
        else:
            path = str(self.rng.choice(VALIDATING))
        a, b = self._window(0)
        params = {"hydrophone": self._hydro(), "start": self._iso(a), "end": self._iso(b)}
        if kind == 0:
            params["hydrophone"] = f"no_such_hydrophone_{k}"
        elif kind == 1:
            shift = 400 * 86400 + k * 3600
            params.update(start=self._iso(a - shift), end=self._iso(b - shift))
        else:
            params["delta_f"] = f"{k}xyz"
        return Request(path, params, expect=400)

    def cold_block(self, b: int) -> list[Request]:
        reqs = [self.valid(p, (i + b) % CYCLE) for i, p in enumerate(ROUTES)]
        reqs.append(self.invalid(b % CYCLE))
        order = self.rng.permutation(len(reqs))
        return [reqs[i] for i in order]


class Result:
    __slots__ = ("rid", "req", "t0", "t1", "status", "headers", "body", "error")


def send(port: int, req: Request, rid: str) -> Result:
    res = Result()
    res.rid, res.req, res.error = rid, req, None
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        res.t0 = time.perf_counter()
        conn.request("GET", req.url, headers={"X-Bench-Id": rid})
        resp = conn.getresponse()
        res.body = resp.read()
        res.t1 = time.perf_counter()
        res.status = resp.status
        res.headers = {k: v for k, v in resp.getheaders() if k.startswith("X-")}
    except OSError as exc:
        res.t1 = time.perf_counter()
        res.status, res.headers, res.body, res.error = 0, {}, b"", repr(exc)
    finally:
        conn.close()
    return res


def closed_loop(port: int, seconds: float, mix: Mix) -> list[Result]:
    """One client sending its next request when the last one completes,
    through whole cycles of blocks: ``1..CYCLE``, ``CYCLE + 1..2 * CYCLE``,
    ..., one cycle per ``CYCLE_S`` of ``seconds``."""
    n_blocks = CYCLE * max(1, round(seconds / CYCLE_S))
    results: list[Result] = []
    for b in range(1, n_blocks + 1):
        for req in mix.cold_block(b):
            results.append(send(port, req, f"m{len(results)}"))
    return results


# ---------------------------------------------------------------- checks


def _rehydrate_options(body: dict) -> dict:
    """Undo the JSON flattening of the options envelope's int and tuple
    keys, so the body meets its response model."""
    return {
        h: {
            "broadband": {int(k): v for k, v in p["broadband"].items()},
            "octave_bands": {tuple(map(int, k.split(","))): v for k, v in p["octave_bands"].items()},
            "delta_hz": {tuple(map(int, k.split(","))): v for k, v in p["delta_hz"].items()},
        }
        for h, p in body.items()
    }


def check_response(res: Result) -> str | None:
    """Why the response is wrong, or None."""
    from ambient_sound_analysis_api_spark import models
    from ambient_sound_analysis_api_spark.http_api import ROUTE_MODELS

    if res.error:
        return res.error
    if res.status != res.req.expect:
        return f"status {res.status}, expected {res.req.expect}"
    body = json.loads(res.body)
    if res.status != 200:
        return None if "detail" in body else "error body without detail"
    if res.req.path == "/options":
        body = _rehydrate_options(body)
    models.validate(ROUTE_MODELS[res.req.path], body)
    for header, field in (("X-Point-Count", "points"), ("X-Time-Count", "times")):
        if header in res.headers and int(res.headers[header]) != len(body[field]):
            return f"{header} {res.headers[header]} != {len(body[field])}"
    return None


def check_all(results: list[Result]) -> list[str]:
    """Check every response; a body already checked for the same URL only
    has to repeat byte for byte."""
    checked: dict[str, bytes] = {}
    errors = []
    for res in results:
        prior = checked.get(res.req.url)
        if prior is not None and res.status == 200 and res.body == prior:
            continue
        try:
            err = check_response(res)
        except Exception as exc:  # noqa: BLE001 - any failure is a wrong answer
            err = repr(exc)
        if err:
            errors.append(f"{res.rid} {res.req.url}: {err}")
        elif res.status == 200 and prior is None:
            checked[res.req.url] = res.body
    return errors


def duckdb_recompute(root: str, results: list[Result], seed: int) -> list[str]:
    """Recompute a seeded sample of aggregation responses with DuckDB over
    the materialized ``data/`` parquet."""
    import duckdb

    from ambient_sound_analysis_api_spark.operators.planner import INTERVALS

    pool = [
        r for r in results
        if r.status == 200 and r.req.path in ("/aggregations/broadband", "/aggregations/band")
    ]
    rng = np.random.default_rng([seed, 11])
    sample = [pool[i] for i in rng.permutation(len(pool))[:DUCKDB_SAMPLE]]
    con = duckdb.connect()
    src = f"read_parquet('{root}/data/**/*.parquet', hive_partitioning = true)"
    errors = []
    for res in sample:
        body, p = json.loads(res.body), res.req.params
        iv = INTERVALS[body["interval"]]
        where = (
            f"upper(CAST(hydrophone AS VARCHAR)) = '{p['hydrophone'].upper()}' "
            f"AND ts >= TIMESTAMP '{p['start']}' AND ts < TIMESTAMP '{p['end']}' "
            "AND isfinite(value)"
        )
        if res.req.path == "/aggregations/band":
            where += (
                " AND freq_type = 'octave_bands' AND CAST(delta_f AS VARCHAR) = '3'"
                f" AND band_hz BETWEEN {p['band_low']} AND {p['band_high']}"
            )
        else:
            where += " AND freq_type = 'broadband'"
        rows = con.sql(
            f"SELECT CAST(floor(epoch(ts) / {iv}) AS BIGINT) * {iv} AS b, avg(value) "
            f"FROM {src} WHERE {where} GROUP BY b ORDER BY b"
        ).fetchall()
        want = [((EPOCH + timedelta(seconds=b)).isoformat(), v) for b, v in rows]
        got = [tuple(pt) for pt in body["points"]]
        ok = len(want) == len(got) and all(
            wt == gt and math.isclose(wv, gv, rel_tol=1e-9, abs_tol=1e-9)
            for (wt, wv), (gt, gv) in zip(want, got)
        )
        if not ok:
            errors.append(f"{res.rid} {res.req.url}: differs from DuckDB")
    con.close()
    return errors


# --------------------------------------------------------------- metrics


def end_to_end(measured: list[Result], wall_s: float, setup_s: float, rss_mb: float) -> dict:
    lat = [(r.t1 - r.t0) * 1000.0 for r in measured]
    tail_ms, pct = tail(lat)
    info(latency={"samples": len(lat), "tail_percentile": round(pct, 2), "wall_s": wall_s})
    return {
        "setup_s": metric(setup_s, "s"),
        "latency_p50_ms": metric(statistics.median(lat), "ms"),
        "latency_tail_ms": metric(tail_ms, "ms"),
        "latency_geomean_ms": metric(geomean(lat), "ms"),
        "ops_per_s": metric(len(measured) / wall_s, "1/s"),
        "peak_rss_mb": metric(rss_mb, "MB"),
    }


def _route_name(path: str) -> str:
    return path.strip("/").replace("/", "-")


def per_layer(measured: list[Result], spans: list, memo: dict, ready: dict) -> dict:
    """Per-request medians of each layer's time and means of its Spark job
    counts. A layer with no spans in the run yields no metric, which
    ``run.py`` reports as a failed run."""
    by_op: dict[str, list] = {}
    names = {}
    for sp in spans:
        by_op.setdefault(sp[3], []).append(sp)
        names[sp[0]] = sp[2]

    def dur(sps) -> float:
        return sum(s[5] - s[4] for s in sps) * 1000.0

    def top(sps, prefix):
        # spans of a layer not nested in another span of the same layer
        return [s for s in sps if s[2].startswith(prefix)
                and not names.get(s[1], "").startswith(prefix)]

    val_ms, val_jobs, plan_ms, act_ms, engine_ms, self_ms = [], [], [], [], [], []
    jobs, collects, outside = [], [], []
    for i, res in enumerate(measured):
        sps = by_op.get(res.rid, [])
        request = [s for s in sps if s[2] == "http.request"]
        if not request:
            raise RuntimeError(f"request {res.rid} has no http.request span")
        val = [s for s in sps if s[2] == "validation.validate_request"]
        plans = top(sps, "plan.")
        acts = top(sps, "spark.")
        engine = [s for s in sps if s[2].startswith("serving.")
                  and not s[2].startswith(("serving.miss.", "serving.read"))]
        if val:
            val_ms.append(dur(val))
        if plans:
            plan_ms.append(dur(plans))
        if acts:
            act_ms.append(dur(acts))
        engine_ms.append(dur(engine))
        self_ms.append((res.t1 - res.t0) * 1000.0 - dur(engine))
        if i < COUNT_PREFIX:
            jobs.append(request[0][6])
            val_jobs.append(sum(s[6] for s in val))
            collects.append(len(acts))
            outside.append(request[0][6] - sum(s[6] for s in acts))
    if len(jobs) < COUNT_PREFIX:
        raise RuntimeError(f"{len(jobs)} measured requests, fewer than the "
                           f"{COUNT_PREFIX} the job counts are taken over")
    hits = sum(h for h, _ in memo.values())
    calls = sum(h + m for h, m in memo.values())
    out = {
        "validation.jobs_per_req": metric(statistics.fmean(val_jobs), "count"),
        "spark.jobs_per_req": metric(statistics.fmean(jobs), "count"),
        "spark.collects_per_req": metric(statistics.fmean(collects), "count"),
        "spark.jobs_outside_collect_per_req": metric(statistics.fmean(outside), "count"),
        "serving.engine_ms": metric(statistics.median(engine_ms), "ms"),
        "serving.memo_hit_ratio": metric(hits / calls, "ratio"),
        "http_api.self_ms": metric(statistics.median(self_ms), "ms"),
        "http_api.response_bytes": metric(
            statistics.median(len(r.body) for r in measured), "bytes"),
        "setup.session_s": metric(ready["session_s"], "s"),
        "setup.materialize_s": metric(ready["materialize_s"], "s"),
        "setup.catalog_s": metric(ready["catalog_s"], "s"),
        "setup.jobs": metric(ready["setup_jobs"], "count"),
    }
    for name, values in (("validation.ms", val_ms), ("plan.ms", plan_ms),
                         ("spark.collect_ms", act_ms)):
        if values:
            out[name] = metric(statistics.median(values), "ms")
    for path in ROUTES:
        lat = [(r.t1 - r.t0) * 1000.0 for r in measured if r.req.path == path]
        if lat:
            out[f"route.{_route_name(path)}.p50_ms"] = metric(statistics.median(lat), "ms")
    return out


# ------------------------------------------------------------------ run


def run(args, work: str, input_dir: str) -> dict:
    mix = Mix(input_dir, args.seed)
    root = os.path.join(work, "domain")
    spans_path = os.path.join(work, "spans.json")
    cmd = ["--input", input_dir, "--root", root]
    if args.trace:
        cmd += ["--spans", spans_path]
    with Child("server.py", cmd, work) as server:
        ready = server.read()
        t_ready = time.perf_counter()
        setup_s = t_ready - server.t_start
        port = ready["ready"]
        warm = [send(port, req, f"w{i}") for i, req in enumerate(mix.cold_block(0))]
        server.send("mark")
        t0 = time.perf_counter()
        measured = closed_loop(port, args.seconds, mix)
        wall_s = measured[-1].t1 - t0
        stop = server.send("stop")
        t_stop = time.perf_counter()
    info(phases_s={"ready": t_ready - server.t_start, "warm": t0 - t_ready,
                   "measured": wall_s, "stop": time.perf_counter() - t_stop},
         set_up=ready)

    errors = check_all(warm + measured)
    errors += duckdb_recompute(root, warm + measured, args.seed)
    memo = stop["memo"]
    data_routes = [r for r in memo if r != "options"]
    hits = sum(memo[r][0] for r in data_routes)
    calls = sum(sum(memo[r]) for r in data_routes)
    ratio = hits / calls if calls else 0.0
    regime_ok = ratio <= 0.01
    info(memo=memo, data_route_hit_ratio=ratio, regime_ok=regime_ok,
         errors=errors[:20], n_errors=len(errors))
    if args.trace:
        with open(spans_path) as fh:
            spans = json.load(fh)
        metrics = per_layer(measured, spans, memo, ready)
        info(traced_end_to_end=end_to_end(measured, wall_s, setup_s, stop["peak_rss_mb"]))
    else:
        metrics = end_to_end(measured, wall_s, setup_s, stop["peak_rss_mb"])
    return {
        "correct": not errors and regime_ok,
        "attempted": len(warm) + len(measured),
        "failed": len(errors),
        "metrics": metrics,
    }
