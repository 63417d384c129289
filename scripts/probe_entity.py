"""Ad-hoc scale probe for FastSS entity resolution.

The K× corpus that ``bench.py --scale`` times over
(``scripts/scale_probe.build_corpus``) does not replicate the
``customer`` table, so ``pipeline_entity_resolution`` would probe as a
no-op there. This probe replicates customers K× with
digit-shifted keys/names into a temp dir — every original name gains
K-1 near-miss variants plus its own shifted copies, an adversarial
near-match-dense input — and times the blocked operator at 1× and K×.

Usage: python scripts/probe_entity.py [K]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from ambient_sound_analysis_api_spark.operators.entity import (  # noqa: E402
    fuzzy_name_pairs,
)
from ambient_sound_analysis_api_spark.session import get_spark  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("entity-probe")
    cust = spark.read.parquet(f"{BASE}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    n = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
    rep = F.broadcast(spark.range(k).withColumnRenamed("id", "_i"))
    big = cust.crossJoin(rep).select(
        (F.col("c_custkey") + F.col("_i") * F.lit(n)).alias("c_custkey"),
        # shift the numeric suffix so replicas are near-misses, not
        # byte-identical: replica i of Customer#000000042 becomes
        # Customer#<i>00000042 — distance 1 from the original.
        F.concat(
            F.substring("c_name", 1, 9),
            F.col("_i").cast("string"),
            F.substring(F.col("c_name"), 11, 99),
        ).alias("c_name"),
    )
    out_dir = tempfile.mkdtemp(prefix=f"entity_{k}x_")
    big.write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")
    bigc = spark.read.parquet(f"{out_dir}/customer.parquet")

    results = {}
    for label, df in (("1x", cust), (f"{k}x", bigc)):
        best, rows = float("inf"), 0
        for _ in range(2):
            t0 = time.perf_counter()
            rows = fuzzy_name_pairs(df).count()
            best = min(best, time.perf_counter() - t0)
        results[label] = {"t": round(best, 2), "pairs": rows}
        print(f"# {label}: {best:.2f}s, {rows} pairs", file=sys.stderr)
    r1, rk = results["1x"]["t"], results[f"{k}x"]["t"]
    results["time_ratio"] = round(rk / r1, 1) if r1 else None
    print(json.dumps({"k": k, "base": BASE, **results}))


if __name__ == "__main__":
    main()
