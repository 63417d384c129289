"""Incremental streaming rollup: ``foreachBatch`` merging algebraic
partials into a crash-safe parquet store.

The production shape for "keep daily statistics over an unbounded feed":
each micro-batch reduces to its own daily partials (count / decimal sum /
min / max — every one merges losslessly, see
``operators/aggregations.py``), which merge with the existing store in
O(keys × days) work regardless of stream volume. Raw events are never
re-read; monthly or yearly rollups derive from the store.

Exactly-once: ``foreachBatch`` is at-least-once on retry, and partial
merging is NOT idempotent (a re-delivered batch would double-count), so
the store carries the last merged ``batch_id`` in a small ``_batch_id``
file (underscore-prefixed, so parquet discovery skips it) and the swap is
the staging + atomic-rename protocol from ``operators/atomic_swap.py`` —
the id and the data commit in the same rename, so a replayed batch is
detected and skipped and a crash mid-merge leaves the previous store
intact. The id file is written and read through the filesystem API, with
no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregations import daily_partials
from ..operators.atomic_swap import (
    path_exists, read_small_file, read_store, recover_path, staging_path,
    swap_in, write_small_file,
)

_SUM_T = "decimal(38,2)"
_BATCH_ID = "_batch_id"


def last_merged_batch(spark: SparkSession, store_path: str) -> int:
    """Committed batch id carried by the store (-1 before the first
    commit). Runs the same rename-window recovery as
    ``atomic_swap.read_store`` FIRST: this is the replay gate, and reading
    -1 off a mid-swap crash would both lose history and double-merge the
    replayed batch (the staged ``_batch_id`` file travels with the staged
    parquet, so a recovered staging dir still carries its batch id)."""
    recover_path(spark, store_path)
    meta = f"{store_path}/{_BATCH_ID}"
    if not path_exists(spark, meta):
        return -1
    return int(read_small_file(spark, meta))


def merge_partials_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
) -> bool:
    """Merge one micro-batch into the store; returns False if the batch id
    was already committed (replay detected)."""
    if batch_id <= last_merged_batch(spark, store_path):
        return False
    newp = daily_partials(
        batch_df, key_col=key_col, ts_col=ts_col, val_col=val_col
    ).withColumn("s", F.col("s").cast(_SUM_T))
    old = read_store(spark, store_path)
    if old is None:
        merged = newp
    else:
        merged = (
            old.select(key_col, "day", "n", F.col("s").cast(_SUM_T), "mn", "mx")
            .unionByName(newp)
            .groupBy(key_col, "day")
            .agg(
                F.sum("n").alias("n"),
                F.sum("s").cast(_SUM_T).alias("s"),
                F.min("mn").alias("mn"),
                F.max("mx").alias("mx"),
            )
        )
    staging = staging_path(store_path)
    merged.write.parquet(staging)
    write_small_file(spark, f"{staging}/{_BATCH_ID}", str(batch_id))
    swap_in(spark, staging, store_path)
    return True
