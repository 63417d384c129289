"""Batch driver process: materializes a fixed set of registry queries.

Started by ``run.py`` for the ``batch_analytics`` workload. Set-up is the
session plus a first touch (read and count) of every input table. Then one
untimed pass fetches every result through pandas and hashes it (the
correctness gate, which also leaves the fit and index memos resident).
After ``go`` on stdin come the timed passes: one, then more while another
fits in ``--seconds``. Each query is timed as build, plan and a noop-sink
write, with the Spark cache cleared first.

Prints, one JSON object per line: ``{"ready": .., "session_s": ..,
"catalog_s": .., "setup_jobs": n}`` after set-up (``n``, the jobs of the
touch, only when traced); ``{"warm_s": .., "hashes": ..}`` after the
untimed pass; ``{"walls": .., "peak_rss_mb": ..}`` at the end.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.getcwd())

from ambient_sound_analysis_api_spark import registry, session  # noqa: E402
from ambient_sound_analysis_api_spark.oracle_compare import (  # noqa: E402
    fetch_spark_pandas,
    hash_rows,
)
from rss import peak_rss_mb  # noqa: E402
from tracing import Tracer, install_spark_actions  # noqa: E402

# domain aggregates, relational, text, dedup, then model fits and the index
QUERIES = (
    "agg_bucket_mean_5m", "agg_daily_summary_tod", "psd_wide_matrix",
    "tpch_q1_pricing", "tpch_q18_big_orders", "asof_latest_order",
    "pipeline_pii_scrub", "text_rolling_fingerprint",
    "dedup_ngram_jaccard", "dedup_clusters",
    "text_bigram_lm_score", "pipeline_quality_logit", "emb_ivfpq_persisted_topk",
)
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _emit(obj) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def _span(tr, name, fn, *args):
    return fn(*args) if tr is None else tr.span(name, fn, *args, count_jobs=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--spans", default="")
    args = ap.parse_args()

    tr = Tracer() if args.spans else None
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench-batch")
    session_s = time.perf_counter() - t0
    if tr is not None:
        tr.bind(spark)
        install_spark_actions(tr)

    if tr is not None:
        tr.begin_op("setup")
    t0 = time.perf_counter()
    for t in TABLES:
        spark.read.parquet(os.path.join(args.input, f"{t}.parquet")).count()
    catalog_s = time.perf_counter() - t0
    _emit({"ready": True, "session_s": session_s, "catalog_s": catalog_s,
           "setup_jobs": tr.jobs("setup") if tr is not None else None})

    qs = registry.queries()

    def check(name: str) -> list:
        if tr is not None:
            tr.begin_op(f"warm-{name}")
        cols, rows = fetch_spark_pandas(qs[name](spark, args.input))
        return [len(rows), hash_rows(cols, rows)]

    # untimed, so the queries run side by side to shorten the pass
    t0 = time.perf_counter()
    with ThreadPoolExecutor(os.cpu_count()) as ex:
        hashes = dict(zip(QUERIES, ex.map(check, QUERIES)))
    _emit({"warm_s": time.perf_counter() - t0, "hashes": hashes})
    if sys.stdin.readline().strip() != "go":
        return 1
    # collect the untimed pass's garbage now, not inside a timed query
    gc.collect()
    spark._jvm.System.gc()

    walls: dict[str, list] = {name: [] for name in QUERIES}
    start = time.perf_counter()
    n_pass, elapsed = 0, 0.0
    # whole passes only: the first, then another while it fits the window
    while n_pass == 0 or elapsed * (n_pass + 1) / n_pass <= args.seconds:
        for name in QUERIES:
            if tr is not None:
                tr.begin_op(f"{name}#{n_pass}")
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = _span(tr, "registry.build", qs[name], spark, args.input)
            t1 = time.perf_counter()
            _span(tr, "registry.plan", df._jdf.queryExecution().executedPlan)
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls[name].append([t1 - t0, t2 - t1, time.perf_counter() - t2])
        n_pass += 1
        elapsed = time.perf_counter() - start

    out = {"walls": walls, "peak_rss_mb": peak_rss_mb(spark)}
    if tr is not None:
        tr.dump(args.spans)
    spark.stop()
    _emit(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
