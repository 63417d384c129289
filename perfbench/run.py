"""Repository benchmark: HTTP serving with memo misses, and materialized
batch analytics.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload serve_cold --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the ``end_to_end`` metrics of ``BENCHMARK.json``
with ``--trace 0``, its ``per_layer`` metrics with ``--trace 1``. A per-layer
metric of a layer the workload does not reach reads 0; one it does reach
must come from the run's spans, or the run fails. The lines before it
record the run's conditions and details. ``README.md`` here explains the
workloads.

Inputs are the project's fixed test tables (``TESTDATA.md``), read from
``$SPARK_GRAFT_TESTDATA`` (default ``~/testdata``); the seed draws the
serving request mix. All scratch files go to ``.perfbench_work/``
and are removed at the end of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TESTDATA = os.environ.get(
    "SPARK_GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata")
)
# serving runs on sf0.1; the batch set on sf0.1 takes about 63 s a pass,
# more than a run allows, so batch runs on sf0.01
SCALE = {"serve_cold": "sf0.1", "batch_analytics": "sf0.01"}
# per-layer metrics each workload must produce from its own spans
NOT_REACHED = {
    "serve_cold": ("registry.",),
    "batch_analytics": ("validation.", "plan.", "spark.", "serving.", "http_api.",
                        "route.", "setup.materialize_s"),
}
# a run must end within 180 s; the clients time out below that
RUN_LIMIT_S = 170


def _timeout(_signum, _frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) host CPU ticks from /proc/stat: the share of time the
    hypervisor ran other guests, which slows every timing of a run."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=tuple(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "ambient_sound_analysis_api_spark")):
        print("ambient_sound_analysis_api_spark/ not found: run from the "
              "repository root", file=sys.stderr)
        return 2
    input_dir = os.path.join(TESTDATA, SCALE[args.workload])
    if not os.path.isfile(os.path.join(input_dir, "events.parquet")):
        print(f"test tables not found in {input_dir}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    sys.path[:0] = [HERE, root]
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)

    from common import info, metric

    info(run={
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input": input_dir, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.cpu_count(), "loadavg": os.getloadavg(),
    })
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    steal0, total0 = _cpu_ticks()
    try:
        if args.workload == "batch_analytics":
            import batch_client

            result = batch_client.run(args, work, input_dir)
        else:
            import serve_client

            result = serve_client.run(args, work, input_dir)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass
    steal1, total1 = _cpu_ticks()
    info(host={"cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
               "loadavg": os.getloadavg()})

    metrics = result["metrics"]
    names = {m["name"] for m in declared}
    unknown = set(metrics) - names
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if args.trace:
        skip = NOT_REACHED[args.workload]
        missing = {n for n in names - set(metrics) if not n.startswith(skip)}
    else:
        missing = names - set(metrics)
    if missing:
        raise RuntimeError(f"no spans for metrics: {sorted(missing)}")
    result["metrics"] = {
        m["name"]: metrics.get(m["name"], metric(0.0, m["unit"])) for m in declared
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
