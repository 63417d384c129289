"""Scale-probe corpus builder for ``bench.py --scale``.

``build_corpus`` writes a synthetic K× corpus to a temp dir: events
replicated with shifted ids/timestamps, embeddings with shifted ids, and
documents with fresh doc_ids (an adversarial dup-heavy corpus, since every
text gains K-1 exact copies); the untouched tables are symlinked.
``bench.py --scale`` times each probed query at 1× and K× over it. The
point is the *scaling exponent*, not the absolute numbers: a plan that is
~linear here has no hidden all-pairs/driver-side bottleneck to ambush a
1000× cluster run.
"""

from __future__ import annotations

import os
import sys
import tempfile

from pyspark.sql import functions as F

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def build_corpus(spark, k: int) -> str:
    out = tempfile.mkdtemp(prefix=f"scale_{k}x_")
    for t in TABLES:
        src = f"{BASE}/{t}.parquet"
        if t not in ("events", "documents", "embeddings"):
            os.symlink(src, f"{out}/{t}.parquet")
            continue
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # K-way replication as ONE broadcast crossJoin with range(K) — a K-way
    # unionAll would build a K-leaf plan (pathological at K=100)
    rep = F.broadcast(spark.range(k).withColumnRenamed("id", "_i"))

    ev = spark.read.parquet(f"{BASE}/events.parquet")
    n_ev = ev.agg(F.max("event_id")).collect()[0][0] + 1
    # shift ids so keys stay unique; nudge ts by i seconds so bucket
    # densities grow K× instead of duplicating identical instants.
    # ts arrives as nanos-long (legacy encoding) or TIMESTAMP_NTZ (current
    # driver encoding) — handle both.
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        ts_shift = F.col("ts") + F.col("_i") * F.lit(1_000_000_000)
    else:
        ts_shift = F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.col("_i") * F.lit(1_000_000)
        )
    ev.crossJoin(rep).select(
        (F.col("event_id") + F.col("_i") * F.lit(n_ev)).alias("event_id"),
        ts_shift.alias("ts"),
        "user_id", "event_type", "value", "props",
    ).write.mode("overwrite").parquet(f"{out}/events.parquet")

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    n_vec = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    emb.crossJoin(rep).select(
        (F.col("vec_id") + F.col("_i") * F.lit(n_vec)).alias("vec_id"),
        "embedding", "label",
    ).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    n_doc = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    docs.crossJoin(rep).select(
        (F.col("doc_id") + F.col("_i") * F.lit(n_doc)).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    n_ev_out = spark.read.parquet(f"{out}/events.parquet").count()
    n_doc_out = spark.read.parquet(f"{out}/documents.parquet").count()
    print(
        f"# corpus {out}: events {n_ev_out:,} docs {n_doc_out:,}",
        file=sys.stderr,
    )
    return out
