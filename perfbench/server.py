"""Serving process: Spark session, domain, Engine and the HTTP front.

Started by ``run.py`` for the ``serve_cold`` workload; the load generator
runs in the parent process. Set-up starts the session, materializes the
domain and builds the Engine, once each.

Protocol, one JSON object per stdout line:
``{"ready": port, "session_s": .., "materialize_s": .., "catalog_s": ..,
"setup_jobs": n}`` once the front listens; ``n``, the Spark jobs of the
materialization and the Engine, only when traced.
Commands on stdin: ``mark`` starts the measured phase (snapshots the memo
counters, drops the spans so far) and answers ``{"marked": true}``;
``stop`` answers with the memo-counter deltas and the peak RSS, writes the
spans to ``--spans`` when traced, then stops the session and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())

from ambient_sound_analysis_api_spark import http_api, serving, session  # noqa: E402
from ambient_sound_analysis_api_spark.sources import domain  # noqa: E402
from rss import peak_rss_mb  # noqa: E402
from tracing import ENGINE_ROUTES, Tracer, install_serving, wrap_engine_routes  # noqa: E402


def _emit(obj) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--spans", default="")
    args = ap.parse_args()

    tr = Tracer() if args.spans else None
    if tr is not None:
        install_serving(tr)
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench-serve")
    session_s = time.perf_counter() - t0
    if tr is not None:
        tr.bind(spark)

    if tr is not None:
        tr.begin_op("setup")
    t0 = time.perf_counter()
    domain.materialize_domain(spark, args.input, args.root)
    materialize_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    engine = serving.Engine(spark, args.root)
    catalog_s = time.perf_counter() - t0
    setup_jobs = None
    if tr is not None:
        setup_jobs = tr.jobs("setup")
        wrap_engine_routes(tr, engine)
    httpd = http_api.serve(engine, port=0, timing=None)
    _emit({"ready": httpd.server_port, "session_s": session_s,
           "materialize_s": materialize_s, "catalog_s": catalog_s,
           "setup_jobs": setup_jobs})

    base = {}
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "mark":
            base = {r: getattr(engine, r).cache_info() for r in ENGINE_ROUTES}
            if tr is not None:
                tr.reset()
            _emit({"marked": True})
        elif cmd == "stop":
            memo = {}
            for r in ENGINE_ROUTES:
                now, b = getattr(engine, r).cache_info(), base[r]
                memo[r] = [now.hits - b.hits, now.misses - b.misses]
            out = {"memo": memo, "peak_rss_mb": peak_rss_mb(spark)}
            httpd.shutdown()
            httpd.server_close()
            if tr is not None:
                tr.dump(args.spans)
            spark.stop()
            _emit(out)
            return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
