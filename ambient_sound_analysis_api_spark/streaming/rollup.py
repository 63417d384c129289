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
the store carries the last merged ``batch_id`` in an underscore-prefixed
``_meta`` subdir (invisible to parquet discovery) and the swap is the
staging + atomic-rename protocol from ``operators/atomic_swap.py`` — the
id and the data commit in the same rename, so a replayed batch is
detected and skipped and a crash mid-merge leaves the previous store
intact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..operators.aggregations import daily_partials
from ..operators.atomic_swap import (
    path_exists, read_store, recover_path, staging_path, swap_in,
)

_SUM_T = "decimal(38,2)"


def last_merged_batch(spark: SparkSession, store_path: str) -> int:
    """Committed batch id carried by the store (-1 before the first
    commit). Runs the same rename-window recovery as
    ``atomic_swap.read_store`` FIRST: this is the replay gate, and reading
    -1 off a mid-swap crash would both lose history and double-merge the
    replayed batch (the staged ``_meta`` travels with the staged parquet,
    so a recovered staging dir still carries its batch id)."""
    recover_path(spark, store_path)
    if not path_exists(spark, f"{store_path}/_meta"):
        return -1
    try:
        row = spark.read.json(f"{store_path}/_meta").first()
        return int(row["batch_id"])
    except (AnalysisException, TypeError):
        return -1


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
    spark.createDataFrame([(batch_id,)], "batch_id long").coalesce(1).write.json(
        f"{staging}/_meta"
    )
    swap_in(spark, staging, store_path)
    return True


def incremental_rollup_query(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    key_col: str = "event_type",
    ts_col: str = "ts",
    val_col: str = "value",
):
    """Attach the merge sink to a streaming DataFrame; returns the
    (unstarted) ``DataStreamWriter`` so callers choose the trigger."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_partials_batch(
            spark,
            batch_df,
            batch_id,
            store_path,
            key_col=key_col,
            ts_col=ts_col,
            val_col=val_col,
        )

    return stream.writeStream.foreachBatch(merge)
