"""Stream-fed incremental ANN index maintenance.

Composes the streaming ingest discipline (``streaming/dual.py``'s
id-gated ``foreachBatch`` pattern) with the no-refit delta encode
(``operators/pq.py::ivfpq_delta_index``): each micro-batch of new
embeddings is cell-assigned and PQ-encoded against the STANDING model
(coarse centroids + codebooks — never refit inside the hot path) and
admitted into a partitioned code store exactly once.

Exactly-once here needs no meta file at all: each batch's codes land in
their own ``batch=<id>`` partition directory via the stage-then-rename
batch admit (``operators/atomic_swap.py::admit_batch``) — the rename is
the commit, and its target's existence IS the replay gate, at every
crash point.

The store layout is ``<root>/batch=<id>/cell=<c>/*.parquet`` — standard
two-level hive partitioning, so a serving scan prunes to the probed
cells across ALL admitted batches with one partition filter, and the
"grown index" is always the plain union of batch directories (proven
batch-equivalent to a one-shot encode in ``tests/test_streaming_ann.py``
and hash-checked end-to-end by the ``streaming_ann_ingest`` registry
oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.atomic_swap import admit_batch


def admit_embedding_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_root: str,
    cents: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Encode + admit ONE micro-batch into the streamed code store;
    returns False when the batch was already admitted (crash replay) or
    a concurrent admission of the same batch id won the rename race
    (``atomic_swap.admit_batch``). The encode is ``ivfpq_delta_index`` —
    exact-decimal cell assignment plus the codegen code projection, no
    refit, no corpus scan."""
    from ..operators.pq import ivfpq_delta_index

    def write(staging: str) -> None:
        codes = ivfpq_delta_index(
            batch_df, cents, codebooks, id_col=id_col, vec_col=vec_col
        )
        codes.repartition("cell").write.partitionBy("cell").parquet(staging)

    return admit_batch(spark, store_root, batch_id, write)


def read_streamed_codes(
    spark: SparkSession,
    store_root: str,
    takedown_root: "str | None" = None,
) -> DataFrame:
    """The grown delta index: every admitted batch's codes, with
    ``batch`` and ``cell`` as partition columns — a probed-cell filter
    prunes directories across all batches.

    ``takedown_root`` points at a streamed takedown store
    (``streaming/takedown.py``); its admitted vec_ids are anti-joined
    (takedown-sized, broadcast) out of the code rows, so the served
    index is exactly the never-admitted-the-deleted index — nothing in
    the code store itself is rewritten (a takedown is O(ids), and
    ``ivfpq_compact_segments`` is the physical reclamation path)."""
    codes = spark.read.parquet(store_root)
    if takedown_root is not None:
        from .takedown import read_streamed_takedowns

        tomb = read_streamed_takedowns(spark, takedown_root, "vec_id")
        if tomb is not None:
            from pyspark.sql import functions as F

            codes = codes.join(F.broadcast(tomb), "vec_id", "left_anti")
    return codes
