"""Stream-fed takedown (deletion) admission for the streamed stores.

The reference engine serves an append-only archive and has no deletion
surface at all (SURVEY.md §4 — its S3 catalog only ever grows); this
module is extension charter, completing the streamed half of the store
lifecycle the batch verbs already cover (``retrieval.bm25_delete_docs``,
``pq.ivfpq_delete_ids``): real corpora shrink continuously — takedowns,
opt-outs, re-dedup verdicts — and the delete feed is a STREAM in
production, not a monthly batch job.

Design: deletions are data, not mutations. A micro-batch of ids is
admitted into its own ``batch=<id>`` directory under a DEDICATED
takedown root (a sibling of the code/postings store — sharing the store
root would poison its hive partition discovery with a second partition
column), via the stage-then-rename batch admit
(``operators/atomic_swap.py::admit_batch``): the rename is the commit,
its target's existence is the replay gate, and the dot-prefixed staging
directory is invisible to readers at every crash point. Nothing
in the admitted index is rewritten — a takedown batch is O(ids), never
O(corpus).

Serving anti-joins the union of admitted takedown batches (takedown-
sized, broadcast by the planner at real scale) against the index rows,
and derives every corpus statistic (BM25 df / N / avgdl) AFTER the
anti-join — so a streamed-takedown serve is hash-equal to a from-scratch
build over the surviving corpus. That equivalence IS the correctness
contract, oracle-checked by ``streaming_bm25_takedown`` /
``streaming_ann_takedown`` (registry.py) against rebuild-without-deleted
SQL, and the admission idempotence is pinned in
``tests/test_streaming_takedown.py``.

Cross-engine/scale notes: admission cost is independent of corpus size;
the serve-time anti-join stays until a compaction pass
(``bm25_compact_segments`` / ``ivfpq_compact_segments``) folds the
tombstones out physically — stream admits the verdicts, batch compaction
reclaims the bytes, the same split every LSM-shaped store uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.atomic_swap import admit_batch, admitted_batches


def admit_takedown_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    takedown_root: str,
    id_col: str,
) -> bool:
    """Admit ONE micro-batch of takedown ids; returns False when the
    batch was already admitted (crash replay) or a concurrent admission
    of the same batch id won the rename race (``atomic_swap.admit_batch``).
    Ids are deduplicated within the batch (re-deleting an already-deleted
    doc is a no-op by construction — the anti-join is set semantics)."""

    def write(staging: str) -> None:
        # takedown batches are id-sized: one file keeps the store at
        # O(batches) files instead of O(batches * shuffle partitions)
        batch_df.select(id_col).distinct().coalesce(1).write.parquet(staging)

    return admit_batch(spark, takedown_root, batch_id, write)


def read_streamed_takedowns(
    spark: SparkSession, takedown_root: str, id_col: str
) -> "DataFrame | None":
    """The union of every admitted takedown batch's ids, distinct across
    batches, or None when no batch was ever admitted (absence is the
    common case — most serves carry no tombstones, and None lets the
    caller skip the anti-join entirely instead of anti-joining an empty
    frame)."""
    batches = admitted_batches(spark, takedown_root)
    if not batches:
        return None
    return spark.read.parquet(*batches).select(id_col).distinct()
