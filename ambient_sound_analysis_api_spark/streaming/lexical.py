"""Stream-fed lexical (BM25) index maintenance.

The sparse twin of ``streaming/ann.py``: each micro-batch of documents
is tokenized ONCE (the batch is the only thing that ever touches the
text column) into its own postings + doclens segment and admitted
exactly once via the stage-then-rename batch admit
(``operators/atomic_swap.py::admit_batch``) — the rename is the commit,
its target's existence is the replay gate.

Store layout: ``<root>/batch=<id>/{postings,doclens}/*.parquet`` — ONE
rename commits both tables atomically (they share the staged directory),
which the two-table split of the manifest-store layout cannot give a
single micro-batch. Serving reads every admitted batch
(``atomic_swap.admitted_batches``) with one multi-path scan per table
and derives query-term df and corpus stats FROM THE INDEX ROWS (never
the text), so streamed admission is hash-equal to a one-shot
``bm25_topk`` over the same documents — the batch-equivalence contract,
oracle-checked by ``streaming_bm25_ingest``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.atomic_swap import admit_batch, admitted_batches
from ..operators.retrieval import (
    BM25_B, BM25_K1, _bm25_score_topk, term_frequencies,
)


def admit_document_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_root: str,
) -> bool:
    """Tokenize + admit ONE micro-batch of documents; returns False when
    the batch was already admitted (crash replay) or a concurrent
    admission of the same batch id won the rename race
    (``atomic_swap.admit_batch``)."""
    from ..functions.text import letter_tokens

    def write(staging: str) -> None:
        (
            term_frequencies(batch_df)
            .repartitionByRange(4, "term")
            .sortWithinPartitions("term", "doc_id")
            .write.parquet(f"{staging}/postings")
        )
        batch_df.select(
            "doc_id", F.size(letter_tokens(F.col("text"))).alias("dl")
        ).write.parquet(f"{staging}/doclens")

    return admit_batch(spark, store_root, batch_id, write)


def bm25_streamed_topk(
    spark: SparkSession,
    store_root: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
    takedown_root: str | None = None,
) -> DataFrame:
    """BM25 top-k over the streamed store: one multi-path scan of every
    admitted batch's postings (term predicate pushed to the range-sorted
    files), one of the doclens; query-term df aggregates from the
    filtered postings stream and the 1-row corpus stats from doclens —
    all index rows, zero text reads. Arithmetic is the shared
    :func:`~..operators.retrieval._bm25_score_topk`, so the result is
    hash-equal to a one-shot ``bm25_topk`` over the same corpus.

    ``takedown_root`` points at a streamed takedown store
    (``streaming/takedown.py``); its admitted ids are anti-joined
    (takedown-sized, broadcast) out of BOTH index tables BEFORE df and
    corpus stats derive — so df, N and avgdl all reflect the surviving
    corpus and the serve is hash-equal to a from-scratch build without
    the deleted docs."""
    batches = admitted_batches(spark, store_root)
    if not batches:
        raise ValueError(
            f"bm25_streamed_topk: no batch admitted under {store_root}"
        )
    terms = [t.lower() for t in query_terms]
    tf = spark.read.parquet(*[f"{p}/postings" for p in batches]).filter(
        F.col("term").isin(terms)
    )
    dl = spark.read.parquet(*[f"{p}/doclens" for p in batches])
    if takedown_root is not None:
        from .takedown import read_streamed_takedowns

        tomb = read_streamed_takedowns(spark, takedown_root, "doc_id")
        if tomb is not None:
            tomb = F.broadcast(tomb)
            tf = tf.join(tomb, "doc_id", "left_anti")
            dl = dl.join(tomb, "doc_id", "left_anti")
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    return _bm25_score_topk(tf, df_tbl, dl, stats, k=k, k1=k1, b=b)
