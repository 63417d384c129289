"""Structured-Streaming variants of the batch window aggregations.

The reference is batch-only over archived data (SURVEY.md §2.10), but its
window mean (A3) maps onto a streaming ``groupBy(window(ts, ...))`` with a
watermark for late hydrophone packets; :func:`run_available_now` drives
these transforms over a batch source for the registry's streaming queries,
and :func:`drain` is the one ``foreachBatch`` runner every stream-fed
store (rollups, ANN/BM25 ingest, takedowns) runs through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import is_finite


def streaming_sliding_mean(
    stream: DataFrame,
    interval_s: int,
    slide_s: int,
    watermark: str = "10 minutes",
    *,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming sliding-window mean: every event contributes to
    ``interval_s / slide_s`` overlapping windows (``F.window`` with a slide
    duration — the hopping-window generalization of the tumbling
    bucket). State per key×window is one partial aggregate; the watermark
    bounds how long closed windows linger. Window starts are the
    ``slide_s`` grid, so downstream consumers join them like any bucket
    key."""
    agged = (
        stream.withWatermark(ts_col, watermark)
        .filter(is_finite(F.col(value_col)))
        .groupBy(
            *(keys or []),
            F.window(
                F.col(ts_col), f"{interval_s} seconds", f"{slide_s} seconds"
            ).alias("w"),
        )
        .agg(F.avg(value_col).alias("mean_value"))
    )
    return agged.select(
        *(keys or []),
        F.col("w.start").alias("bucket_ts"),
        "mean_value",
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact deduplication: keep the FIRST event per key, with
    state expired by the watermark.

    ``dropDuplicatesWithinWatermark`` is the streaming analog of the batch
    hash-groupBy exact dedup (``operators/dedup.py``): per-key state lives
    only within the watermark horizon, so memory is bounded by the key
    arrival rate × horizon instead of the stream's lifetime — the property
    that makes exact dedup feasible on an unbounded 100 TB/day feed.
    Which non-key columns survive depends on arrival order; emit only the
    key columns when downstream needs run-independent values.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


_RUN_COUNTER = 0


def run_available_now(
    spark,
    batch_df: DataFrame,
    transform,
    *,
    prefix: str = "stream_run",
    output_mode: str = "complete",
):
    """Execute ``transform(stream)`` as a REAL Structured-Streaming query
    over ``batch_df``'s rows and return the final result as a batch
    DataFrame.

    The batch rows are staged to a temp Parquet directory, read back with
    ``readStream`` (file source), run with ``trigger(availableNow=True)``
    (process-everything-then-stop — the bounded-backfill trigger) into a
    memory sink (``complete`` mode for aggregations, ``append`` for
    row-emitting operators like streaming dedup), and the sink's table is
    returned. This is
    how the engine proves streaming/batch parity on real streaming
    machinery rather than on a batch re-interpretation of the same plan;
    in production the same ``transform`` attaches to a live file/Kafka
    source unchanged. The staged directory is removed once the query has
    terminated: the memory sink holds the result and never reads it.
    """
    import shutil
    import tempfile

    global _RUN_COUNTER
    _RUN_COUNTER += 1
    name = f"{prefix}_{_RUN_COUNTER}"
    src_dir = tempfile.mkdtemp(prefix=f"{name}_src_")
    try:
        batch_df.write.mode("overwrite").parquet(src_dir)
        stream = spark.readStream.schema(batch_df.schema).parquet(src_dir)
        q = (
            transform(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
    return spark.table(name)


def drain(spark, src: str, schema, on_batch, checkpoint: str) -> None:
    """Run ``on_batch(batch_df, batch_id)`` over every file under ``src``,
    one file per micro-batch, and return once all of them are processed.

    The file source reads ``src`` with ``schema`` (the staged frame's, so
    no job infers it back from the files) and ``maxFilesPerTrigger=1``,
    so a source staged as N files runs as N micro-batches with ids
    0..N-1; ``trigger(availableNow=True)`` processes what is there and
    stops. ``checkpoint`` records committed offsets: a run restarted on
    the same checkpoint replays only the batches that never committed.
    A failure inside ``on_batch`` stops the query and is re-raised here
    (as a ``StreamingQueryException``)."""
    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
