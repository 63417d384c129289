"""Unit tests for product quantization (operators/pq.py)."""

from __future__ import annotations

import pytest

from ambient_sound_analysis_api_spark.operators.pq import (
    pq_adc_topk,
    pq_encode,
    pq_fit,
)
from ambient_sound_analysis_api_spark.registry import q_emb_pq_adc_topk


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [10.0, 1.0]),
            (2, [0.5, 0.0]),
            (3, [9.5, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )


def test_pq_fit_shapes_and_values(tiny):
    books = pq_fit(tiny, m=2, k=2, n_iter=1)
    assert len(books) == 2 and all(len(b) == 2 for b in books)
    # subspace 0: seeds 0/10 → means (0+0.5)/2 and (10+9.5)/2
    assert books[0][0] == [pytest.approx(0.25)]
    assert books[0][1] == [pytest.approx(9.75)]


def test_pq_encode_assigns_nearest_codeword(tiny):
    books = pq_fit(tiny, m=2, k=2, n_iter=1)
    codes = {r.vec_id: (r.code_0, r.code_1) for r in pq_encode(tiny, books).collect()}
    assert codes == {0: (0, 0), 1: (1, 1), 2: (0, 0), 3: (1, 1)}


def test_pq_adc_topk_orders_by_table_lookup_distance(tiny):
    books = pq_fit(tiny, m=2, k=2, n_iter=1)
    codes = pq_encode(tiny, books)
    out = pq_adc_topk(codes, books, [0.0, 0.0], topk=4).collect()
    # ids 0 and 2 share the nearest cell; tie broken by vec_id
    assert [r.vec_id for r in out] == [0, 2, 1, 3]
    # ADC distance of the (0,0) cell from query [0,0]: 0.25² + 0² = 0.0625
    assert out[0].adc_dist == pytest.approx(0.0625)


def test_pq_fit_rejects_indivisible_dim(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        pq_fit(emb, m=2, k=1, n_iter=1)


def test_pq_fit_releases_only_its_own_cache(spark):
    """The fit caches its input for the Lloyd's passes and releases that
    cache on return; an input the caller persisted stays persisted."""
    from pyspark import StorageLevel

    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    pq_fit(emb, m=2, k=2, n_iter=1)
    assert emb.storageLevel == StorageLevel.NONE
    emb.persist()
    try:
        pq_fit(emb, m=2, k=2, n_iter=1)
        assert emb.storageLevel != StorageLevel.NONE
    finally:
        emb.unpersist()


def test_registry_pq_query_monotone(spark, sf_dir):
    rows = q_emb_pq_adc_topk(spark, sf_dir).collect()
    assert len(rows) == 20
    dists = [r.adc_dist for r in rows]
    assert dists == sorted(dists)
    assert all(d >= 0 for d in dists)


def test_ivfpq_candidates_come_from_probed_cells_only(spark, sf_dir):
    from pyspark.sql import functions as F

    from ambient_sound_analysis_api_spark.registry import (
        _table,
        q_emb_ivfpq_topk,
    )

    emb = _table(spark, sf_dir, "embeddings")
    out = q_emb_ivfpq_topk(spark, sf_dir).collect()
    assert 0 < len(out) <= 10
    qid = emb.agg(F.min("vec_id")).first()[0]
    ids = [r.vec_id for r in out]
    assert qid not in ids
    # results must lie in at most 2 distinct coarse cells (nprobe=2)
    cells = (
        emb.filter(F.col("vec_id").isin(ids))
        .select("label")
        .distinct()
        .count()
    )
    assert cells <= 2
    dists = [r.adc_dist for r in out]
    assert dists == sorted(dists)


def test_pq_fit_sampled_is_deterministic_and_full_frac_identical(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import _table

    emb = _table(spark, sf_dir, "embeddings")
    full = pq_fit(emb, m=2, k=4, n_iter=1)
    frac1 = pq_fit(emb, m=2, k=4, n_iter=1, sample_frac=1.0)
    assert full == frac1  # frac=1.0 keeps every bucket
    half_a = pq_fit(emb, m=2, k=4, n_iter=1, sample_frac=0.5)
    half_b = pq_fit(emb, m=2, k=4, n_iter=1, sample_frac=0.5)
    assert half_a == half_b  # md5 sampling, not rand(): repeatable
    assert len(half_a) == 2 and all(len(b) == 4 for b in half_a)


def test_ivfpq_residual_beats_raw_pq_distortion(spark, sf_dir):
    """The point of residual encoding: quantization error (ADC distance of
    a vector to ITSELF as query, which should be ~0) is smaller on
    residual codes than raw-vector codes for most probed vectors — and the
    registry query returns well-formed monotone results."""
    from ambient_sound_analysis_api_spark.registry import (
        q_emb_ivfpq_residual_topk,
    )

    rows = q_emb_ivfpq_residual_topk(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    dists = [r.adc_dist for r in rows]
    assert dists == sorted(dists)
    assert all(d >= 0 for d in dists)


def test_ivfpq_batch_exclude_self_flag_and_id_type(spark):
    """External query batches: exclude_self=False must keep a corpus
    vector whose vec_id merely collides with a query id, and the
    query-id column type is inferred from the batch frame (not
    hardcoded long)."""
    from ambient_sound_analysis_api_spark.operators.pq import (
        ivfpq_batch_topk,
        pq_fit,
    )

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0], 0),
            (1, [10.0, 1.0], 1),
            (2, [0.5, 0.0], 0),
            (3, [9.5, 1.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    books = pq_fit(emb, m=2, k=2, n_iter=1)
    # external batch whose id 0 collides with corpus vec_id 0
    qb = spark.createDataFrame(
        [(0, [0.1, 0.0])], "query_id long, qvec array<double>"
    )
    with_self = ivfpq_batch_topk(
        emb, books, qb, k=4, nprobes=(2,), exclude_self=False
    ).collect()
    without = ivfpq_batch_topk(
        emb, books, qb, k=4, nprobes=(2,)
    ).collect()
    assert {r.vec_id for r in with_self} - {r.vec_id for r in without} == {0}

    # string query ids round-trip unchanged (schema inferred from batch);
    # exclude_self with a mismatched id type is rejected up front
    qbs = spark.createDataFrame(
        [("qA", [0.1, 0.0])], "query_id string, qvec array<double>"
    )
    rows = ivfpq_batch_topk(
        emb, books, qbs, k=2, nprobes=(1,), exclude_self=False
    ).collect()
    assert rows and all(r.query_id == "qA" for r in rows)
    with pytest.raises(ValueError, match="exclude_self"):
        ivfpq_batch_topk(emb, books, qbs, k=2, nprobes=(1,))


def test_ivfpq_delta_index_assigns_nearest_cell_no_refit(spark):
    """The delta batch lands in the nearest EXISTING cell and is encoded
    with the EXISTING codebooks — pure serve-side math, no fit."""
    from ambient_sound_analysis_api_spark.operators.pq import (
        ivfpq_delta_index,
        pq_encode,
        pq_fit,
    )
    from ambient_sound_analysis_api_spark.operators.similarity import (
        ivf_cell_centroids,
    )

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0], 0), (1, [0.2, 0.0], 0),
            (2, [10.0, 1.0], 1), (3, [9.8, 1.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    books = pq_fit(emb, m=2, k=2, n_iter=1)
    cents = ivf_cell_centroids(emb)
    new = spark.createDataFrame(
        [(100, [0.1, 0.0]), (101, [9.9, 1.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in ivfpq_delta_index(new, cents, books).collect()}
    assert rows[100].cell == 0 and rows[101].cell == 1
    want = {
        r.vec_id: (r.code_0, r.code_1)
        for r in pq_encode(new, books).collect()
    }
    assert all((rows[i].code_0, rows[i].code_1) == want[i] for i in (100, 101))
