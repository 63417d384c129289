"""Mid-flight crash → checkpoint-restart idempotence for the streaming
admitters (round-13 VERDICT #7): the clean-run tests prove exactly-once
under clean execution; THESE kill a live ``availableNow`` query after a
micro-batch's staging WRITE but before its COMMIT rename — the precise
window exactly-once exists for — restart it on the same checkpoint, and
assert the admitted index is hash-equal to a never-crashed run.

The kill is an injected failure in the foreachBatch sink (a real SIGKILL
of the driver JVM is not testable in-process; the injected raise dies at
the same point in the micro-batch lifecycle: staged data on disk, no
commit, no checkpoint offset recorded for the batch)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.operators.retrieval import bm25_topk
from ambient_sound_analysis_api_spark.streaming.lexical import (
    admit_document_batch, bm25_streamed_topk,
)
from ambient_sound_analysis_api_spark.streaming.windows import drain

TEXTS = [
    "vector hash merge engine spark parquet",
    "hash hash hash table lookup vector",
    "merge sort join shuffle partition",
    "vector space model retrieval ranking",
]


def _write_doc_files(spark, src, lo, mid, hi):
    rows = [(i, TEXTS[i % 4] + f" filler{i}") for i in range(lo, hi)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.filter(F.col("doc_id") < mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    docs.filter(F.col("doc_id") >= mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    return docs


def test_bm25_stream_killed_mid_batch_resumes_hash_equal(spark, tmp_path):
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    docs = _write_doc_files(spark, src, 0, 8, 16)
    schema = "doc_id long, text string"

    state = {"killed": False}

    def admit(batch_df, batch_id):
        if batch_id == 1 and not state["killed"]:
            state["killed"] = True
            # die AFTER the staging write, BEFORE the commit rename:
            # stage the batch's real segment, then fail the query
            from ambient_sound_analysis_api_spark.functions.text import (
                letter_tokens,
            )
            from ambient_sound_analysis_api_spark.operators.retrieval import (
                term_frequencies,
            )

            staging = f"{store}/.staging-batch-1-crashinject"
            term_frequencies(batch_df).write.parquet(f"{staging}/postings")
            batch_df.select(
                "doc_id",
                F.size(letter_tokens(F.col("text"))).alias("dl"),
            ).write.parquet(f"{staging}/doclens")
            raise RuntimeError("injected crash after write, before commit")
        admit_document_batch(spark, batch_df, batch_id, store)

    with pytest.raises(Exception, match="injected crash"):
        drain(spark, src, schema, admit, ckpt)
    # post-crash: batch 0 committed, batch 1 only as hidden staging
    committed = [d for d in os.listdir(store) if d.startswith("batch=")]
    assert committed == ["batch=0"]
    assert any(d.startswith(".staging-batch-1") for d in os.listdir(store))

    # restart on the SAME checkpoint: batch 1 replays and commits; the
    # crash debris stays invisible
    drain(spark, src, schema, admit, ckpt)
    committed = sorted(
        d for d in os.listdir(store) if d.startswith("batch=")
    )
    assert committed == ["batch=0", "batch=1"]

    got = bm25_streamed_topk(
        spark, store, ["vector", "hash", "merge"], k=20
    ).collect()
    want = bm25_topk(docs, ["vector", "hash", "merge"], k=20).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_ann_stream_killed_mid_batch_resumes_hash_equal(
    spark, tmp_path, sf_dir
):
    from ambient_sound_analysis_api_spark.operators.pq import (
        ivfpq_delta_index, pq_fit,
    )
    from ambient_sound_analysis_api_spark.operators.similarity import (
        ivf_cell_centroids,
    )
    from ambient_sound_analysis_api_spark.streaming.ann import (
        admit_embedding_batch, read_streamed_codes,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_fit(emb, m=4, k=8, n_iter=2)
    cents = ivf_cell_centroids(emb)
    new = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    half = F.col("vec_id") % 2
    new.filter(half == 0).coalesce(1).write.mode("append").parquet(src)
    new.filter(half == 1).coalesce(1).write.mode("append").parquet(src)

    state = {"killed": False}

    def admit(batch_df, batch_id):
        if batch_id == 1 and not state["killed"]:
            state["killed"] = True
            staging = f"{store}/.staging-batch-1-crashinject"
            ivfpq_delta_index(batch_df, cents, books).write.partitionBy(
                "cell"
            ).parquet(staging)
            raise RuntimeError("injected crash after write, before commit")
        admit_embedding_batch(spark, batch_df, batch_id, store, cents, books)

    with pytest.raises(Exception, match="injected crash"):
        drain(spark, src, new.schema, admit, ckpt)
    assert [
        d for d in os.listdir(store) if d.startswith("batch=")
    ] == ["batch=0"]
    drain(spark, src, new.schema, admit, ckpt)
    assert sorted(
        d for d in os.listdir(store) if d.startswith("batch=")
    ) == ["batch=0", "batch=1"]

    want_df = ivfpq_delta_index(new, cents, books)
    cols = want_df.columns  # align: the store read appends the cell
    got = sorted(           # partition column last
        tuple(r)
        for r in read_streamed_codes(spark, store)
        .select(*cols)
        .collect()
    )
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want
