"""Stream-fed incremental ANN (round-11): exactly-once admission of
micro-batches into the partitioned code store, batch-equivalence of the
grown index vs a one-shot encode, crash-replay convergence, and the
recall gate run on the streamed result.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.operators.pq import (
    ivfpq_delta_index,
    ivfpq_incremental_rerank_topk,
    pq_fit,
)
from ambient_sound_analysis_api_spark.operators.similarity import (
    ivf_cell_centroids,
)
from ambient_sound_analysis_api_spark.streaming.ann import (
    admit_embedding_batch,
    read_streamed_codes,
)
from ambient_sound_analysis_api_spark.streaming.windows import drain

import pytest


@pytest.fixture(autouse=True)
def _drain_operator_caches(spark):
    """The serve path persists the centroid table over the SAME parquet
    read other plan tests scan-count — drain tracked caches after each
    test so cached subtrees don't plan-match into later suites."""
    yield
    from ambient_sound_analysis_api_spark.operators.caching import (
        release_caches,
    )

    release_caches()


def _setup(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_fit(emb, m=4, k=8, n_iter=2)
    cents = ivf_cell_centroids(emb)
    new = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    )
    return emb, books, cents, new


def _codes_rows(df):
    return sorted(
        (r["vec_id"], int(r["cell"]), int(r["code_0"]), int(r["code_1"]),
         int(r["code_2"]), int(r["code_3"]))
        for r in df.select(
            "vec_id", "cell", "code_0", "code_1", "code_2", "code_3"
        ).collect()
    )


def test_availablenow_stream_equals_one_shot_encode(spark, sf_dir, tmp_path):
    """Three micro-batches admitted through the availableNow stream grow
    an index bit-identical to encoding the whole delta at once — and the
    recall gate (IVFADC+R vs exact top-10) scores the streamed corpus
    exactly as it scores the one-shot one, because the serve reads the
    same codes."""
    emb, books, cents, new = _setup(spark, sf_dir)
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    for part in range(3):
        new.filter(F.col("vec_id") % 3 == part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    drain(
        spark, src, new.schema,
        lambda b, i: admit_embedding_batch(spark, b, i, store, cents, books),
        str(tmp_path / "ckpt"),
    )

    streamed = read_streamed_codes(spark, store)
    # one directory per micro-batch, cell-partitioned within
    batches = {int(r["batch"]) for r in streamed.select("batch").distinct().collect()}
    assert len(batches) == 3
    one_shot = ivfpq_delta_index(new, cents, books)
    assert _codes_rows(streamed) == _codes_rows(one_shot)

    # the recall gate on the streamed result: the serve's shortlist is a
    # deterministic function of (corpus, codes, query), and the streamed
    # codes are bit-identical — so the gate's recall@10 is the same
    # number the one-shot path produces
    query = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    top = ivfpq_incremental_rerank_topk(
        emb, new, books, query, query_id=0, k=10, nprobe=9, shortlist=200
    )
    exact = (
        emb.select("vec_id", "embedding").unionByName(new)
        .filter(F.col("vec_id") != 0)
    )
    qa = F.array(*[F.lit(x) for x in query])
    d = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"), qa,
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact_ids = {
        r["vec_id"]
        for r in exact.select("vec_id", d.alias("d"))
        .orderBy("d", "vec_id").limit(10).collect()
    }
    got = {r["vec_id"] for r in top.collect()}
    assert len(got & exact_ids) / 10.0 >= 0.8


def test_replay_is_skipped_and_store_unchanged(spark, sf_dir, tmp_path):
    """Re-admitting a committed batch id returns False and leaves the
    store byte-identical (the rename-target existence gate)."""
    _, books, cents, new = _setup(spark, sf_dir)
    store = str(tmp_path / "store")
    batch = new.filter(F.floor(F.col("vec_id") / 10) % 2 == 0)
    assert admit_embedding_batch(spark, batch, 7, store, cents, books)
    before = _codes_rows(read_streamed_codes(spark, store))
    # crash-replay: same id, even different content must be ignored
    assert not admit_embedding_batch(spark, new, 7, store, cents, books)
    assert _codes_rows(read_streamed_codes(spark, store)) == before


def test_crashed_admission_is_invisible_then_converges(
    spark, sf_dir, tmp_path
):
    """A writer dying after the staged write but before the rename leaves
    only a staging dir: readers of batch=* never see it, and the replay
    commits the batch normally."""
    import os

    _, books, cents, new = _setup(spark, sf_dir)
    store = str(tmp_path / "store")
    batch = new.filter(F.floor(F.col("vec_id") / 10) % 2 == 1)
    assert admit_embedding_batch(spark, batch, 0, store, cents, books)
    # simulate the crash for batch 1: stage the codes, never rename
    codes = ivfpq_delta_index(batch, cents, books)
    stale = f"{store}/.staging-batch-1-deadbeef4242"
    codes.repartition("cell").write.partitionBy("cell").parquet(stale)
    visible = {
        int(r["batch"])
        for r in read_streamed_codes(spark, store)
        .select("batch").distinct().collect()
    }
    assert visible == {0}, "staging must be invisible to readers"
    # replay of batch 1 commits it
    assert admit_embedding_batch(spark, batch, 1, store, cents, books)
    visible = {
        int(r["batch"])
        for r in read_streamed_codes(spark, store)
        .select("batch").distinct().collect()
    }
    assert visible == {0, 1}
    assert os.path.exists(stale), "leftover staging is inert garbage"


def test_probed_cell_scan_prunes_partitions(spark, sf_dir, tmp_path):
    """A cell filter over the streamed store reaches the scan as a
    partition filter across every admitted batch directory."""
    _, books, cents, new = _setup(spark, sf_dir)
    store = str(tmp_path / "store")
    admit_embedding_batch(
        spark, new.filter(F.floor(F.col("vec_id") / 10) % 2 == 0), 0, store, cents, books
    )
    admit_embedding_batch(
        spark, new.filter(F.floor(F.col("vec_id") / 10) % 2 == 1), 1, store, cents, books
    )
    scan = read_streamed_codes(spark, store).filter(F.col("cell").isin([0, 1]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1][:200]
