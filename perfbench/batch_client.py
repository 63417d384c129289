"""Driver and checks for the ``batch_analytics`` workload.

The Spark side runs in ``batch.py``; this process compares each result hash
with its DuckDB oracle (``registry.oracle_sql``) over the same input files,
and turns the per-query walls and spans into metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from batch import QUERIES, TABLES
from common import Child, geomean, info, metric


def oracle_hashes(input_dir: str, names: list) -> dict:
    import duckdb

    from ambient_sound_analysis_api_spark.oracle_compare import fetch_duckdb, hash_rows
    from ambient_sound_analysis_api_spark.registry import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')"
        )
    out = {}
    for name in names:
        cols, rows = fetch_duckdb(con, sql[name])
        out[name] = [len(rows), hash_rows(cols, rows)]
    con.close()
    return out


def end_to_end(walls: dict, setup_s: float, rss_mb: float) -> dict:
    per_query = {q: statistics.median(sum(w) for w in ws) for q, ws in walls.items()}
    total = sum(per_query.values())
    info(batch={"total_s": total, "passes": len(next(iter(walls.values()))),
                "query_s": per_query})
    ms = [v * 1000.0 for v in per_query.values()]
    return {
        "setup_s": metric(setup_s, "s"),
        "latency_p50_ms": metric(statistics.median(ms), "ms"),
        "latency_tail_ms": metric(max(ms), "ms"),
        "latency_geomean_ms": metric(geomean(ms), "ms"),
        "ops_per_s": metric(len(ms) / total, "1/s"),
        "peak_rss_mb": metric(rss_mb, "MB"),
    }


def per_layer(walls: dict, spans: list, ready: dict) -> dict:
    """Build/plan/exec medians and Spark job counts per query. A query's
    jobs are those of its top-level spans: build (with any action its
    builder runs), plan and the noop write."""
    jobs: dict[str, list] = {}
    build_jobs: dict[str, list] = {}
    for sp in spans:
        op = sp[3]
        if sp[1] is not None or "#" not in op:  # set-up, warm pass, nested
            continue
        q = op.split("#")[0]
        jobs.setdefault(op, 0)
        jobs[op] += sp[6] or 0
        if sp[2] == "registry.build":
            build_jobs.setdefault(q, []).append(sp[6])
    per_q: dict[str, list] = {}
    for op, n in sorted(jobs.items()):
        per_q.setdefault(op.split("#")[0], []).append(n)
    unsteady = {q: ns for q, ns in per_q.items() if len(set(ns)) > 1}
    unsteady.update({f"{q}.build": ns for q, ns in build_jobs.items() if len(set(ns)) > 1})
    if unsteady:
        info(job_counts_differ_between_passes=unsteady)
    out = {
        "setup.session_s": metric(ready["session_s"], "s"),
        "setup.catalog_s": metric(ready["catalog_s"], "s"),
        "setup.jobs": metric(ready["setup_jobs"], "count"),
    }
    if len(build_jobs) == len(walls):
        out["registry.build_jobs"] = metric(
            sum(statistics.median(ns) for ns in build_jobs.values()), "count")
    for q, ws in walls.items():
        for i, phase in enumerate(("build_s", "plan_s", "exec_s")):
            out[f"registry.{q}.{phase}"] = metric(statistics.median(w[i] for w in ws), "s")
        if q in per_q:
            out[f"registry.{q}.jobs"] = metric(statistics.median(per_q[q]), "count")
    return out


def run(args, work: str, input_dir: str) -> dict:
    spans_path = os.path.join(work, "spans.json")
    cmd = ["--input", input_dir, "--seconds", args.seconds]
    if args.trace:
        cmd += ["--spans", spans_path]
    with Child("batch.py", cmd, work) as driver:
        ready = driver.read()
        t_ready = time.perf_counter()
        setup_s = t_ready - driver.t_start
        # the oracles run while the driver's untimed pass does
        want = oracle_hashes(input_dir, QUERIES)
        warm = driver.read()
        t_warm = time.perf_counter()
        done = driver.send("go")
        t_done = time.perf_counter()
    info(phases_s={"ready": t_ready - driver.t_start, "warm": t_warm - t_ready,
                   "timed": t_done - t_warm, "stop": time.perf_counter() - t_done})

    walls = done["walls"]
    errors = [
        f"{q}: spark {warm['hashes'][q]} != oracle {want[q]}"
        for q in QUERIES if warm["hashes"][q] != want[q]
    ]
    n_timed = sum(len(ws) for ws in walls.values())
    info(oracle_mismatches=errors)
    if args.trace:
        with open(spans_path) as fh:
            metrics = per_layer(walls, json.load(fh), ready)
        info(traced_end_to_end=end_to_end(walls, setup_s, done["peak_rss_mb"]))
    else:
        metrics = end_to_end(walls, setup_s, done["peak_rss_mb"])
    return {
        "correct": not errors,
        "attempted": len(walls) + n_timed,
        "failed": len(errors),
        "metrics": metrics,
    }
