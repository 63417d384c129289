"""Process handling and statistics shared by the workload clients."""

from __future__ import annotations

import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def info(**kw) -> None:
    """A detail line; the result is always the last stdout line."""
    print(json.dumps(kw, default=str), flush=True)


def child_env(work: str) -> dict:
    """Environment of the Spark processes: scratch files inside the work
    directory, one local core per host core, a bounded driver heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env.update(
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([HERE, os.getcwd()]),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "pyspark-shell"
        ),
    )
    return env


class Child:
    """A Spark process that answers with one JSON object per stdout line.
    Its stderr goes to ``<work>/<script>.log``."""

    def __init__(self, script: str, args: list, work: str):
        self.log = open(os.path.join(work, f"{script}.log"), "w")
        self.t_start = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, script), *map(str, args)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, env=child_env(work), cwd=os.getcwd(),
            start_new_session=True,
        )

    def read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"{self.log.name}: process ended early")
        return json.loads(line)

    def send(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.read()

    def close(self, timeout: float = 30) -> None:
        """Wait for the process to end, killing it after ``timeout``; then
        end what it started (its JVM, Python workers) and wait for them."""
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        _end_group(self.proc.pid)
        for fh in (self.proc.stdin, self.proc.stdout, self.log):
            fh.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close(timeout=30 if exc[0] is None else 0)


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _end_group(pgid: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.05)


def tail(values: list) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); the maximum when there are fewer than 11."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def geomean(values: list) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
