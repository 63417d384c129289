"""Unit tests for the round-1 widening: embedding near-dup, LSH ANN,
rolling-hash fingerprints, and the bucketed range join."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.functions.text import (
    ROLLING_BASE,
    ROLLING_MOD,
    min_gram_hash,
    rolling_hash,
)
from ambient_sound_analysis_api_spark.operators.dedup import (
    embedding_near_pairs,
    kr_gram_positions,
)
from ambient_sound_analysis_api_spark.operators.joins import range_join_buckets


def _py_rolling(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * ROLLING_BASE + ord(ch)) % ROLLING_MOD
    return h


# Cases the documents table never holds: null, empty, lengths around the
# gram width, non-ASCII BMP and supplementary-plane code points, and a
# 20,000-character string that stresses the int64 range of the prefix sum.
_LONG = "".join(chr(0x21 + (i * 7919) % 0x2F00) for i in range(20_000))
_HASH_CASES = [
    (1, "hello world"), (2, ""), (3, "a"), (4, "abcdefghij"),
    (5, "abcdefg"), (6, "abcdefgh"), (7, "abcdefghi"),
    (8, "café crème brûlée"), (9, "orca 🐋 pod 🐋🐋 call"), (10, "🐋é"),
    (11, _LONG), (12, None),
]


def _hash_cases(spark, fn):
    df = spark.createDataFrame(_HASH_CASES, "doc_id long, s string")
    return {r["doc_id"]: r["h"] for r in
            df.select("doc_id", fn(F.col("s")).alias("h")).collect()}


def test_rolling_hash_matches_python(spark):
    out = _hash_cases(spark, rolling_hash)
    for i, s in _HASH_CASES:
        assert out[i] == (None if s is None else _py_rolling(s)), i


def test_min_gram_hash(spark):
    out = _hash_cases(spark, lambda c: min_gram_hash(c, n=8))
    for i, s in _HASH_CASES:
        if s is None:
            want = None
        elif len(s) < 8:
            # shorter than n falls back to the whole-string hash
            want = _py_rolling(s)
        else:
            want = min(_py_rolling(s[k:k + 8]) for k in range(len(s) - 7))
        assert out[i] == want, i
    assert out[2] == 0


def test_kr_gram_positions_min_matches_min_gram_hash(spark):
    # dedup's gram stream and the fingerprint share one kernel: the
    # per-document minimum gram hash is min_gram_hash
    rows = [(i, s) for i, s in _HASH_CASES if s is not None and len(s) >= 8]
    df = spark.createDataFrame(rows, "doc_id long, _t string")
    kr = {r["doc_id"]: r["m"] for r in kr_gram_positions(df, 8)
          .groupBy("doc_id").agg(F.min("kh").alias("m")).collect()}
    fp = {r["doc_id"]: r["h"] for r in
          df.select("doc_id", min_gram_hash(F.col("_t"), 8).alias("h")).collect()}
    assert kr == fp and len(kr) == len(rows)


def test_text_rolling_fingerprint_plan_has_no_fold(spark, sf_dir):
    # the fingerprint is one Arrow-batched UDF, not an interpreted
    # per-character higher-order fold; planned only, never executed
    from ambient_sound_analysis_api_spark import registry

    df = registry.queries()["text_rolling_fingerprint"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "aggregate(" not in plan and "lambda" not in plan


@pytest.fixture(scope="module")
def vectors(spark):
    # two tight clusters + one outlier, all in block 0 except id 5
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0, 0.0], 0),
        (2, [0.95, 0.2, 0.1, 0.0], 0),
        (3, [0.0, 1.0, 0.0, 0.0], 0),
        (4, [-1.0, 0.0, 0.0, 0.0], 0),
        (5, [1.0, 0.0, 0.0, 0.0], 1),  # identical to 0 but different block
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()


def test_embedding_near_pairs_blocking(vectors):
    pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"]
             for r in embedding_near_pairs(vectors, threshold=0.9).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    # orthogonal / opposite vectors excluded by threshold
    assert all(3 not in p and 4 not in p for p in pairs)
    # cross-block identical pair is NOT found (blocking trade-off)
    assert (0, 5) not in pairs
    assert pairs[(0, 1)] == pytest.approx(0.99 / math.sqrt(0.99**2 + 0.1**2), abs=1e-3)


def test_range_join_buckets(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:05:00"), (2, "2024-01-01 01:00:00")],
        "lid long, e_ts string",
    ).select("lid", F.col("e_ts").cast("timestamp").alias("e_ts"))
    right = spark.createDataFrame(
        [(10, "2024-01-01 00:00:00", "2024-01-01 00:10:00"),
         (11, "2024-01-01 00:59:00", "2024-01-01 01:09:00"),
         (12, "2024-01-01 02:00:00", "2024-01-01 02:10:00")],
        "rid long, s string, e string",
    ).select(
        "rid",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    out = sorted(
        (r["lid"], r["rid"])
        for r in range_join_buckets(
            left, right, left_ts="e_ts", right_start="s", right_end="e", bucket_s=60
        ).collect()
    )
    assert out == [(1, 10), (2, 11)]


def test_gap_fill_backward_fill_and_leading_nulls(spark):
    from datetime import datetime

    from ambient_sound_analysis_api_spark.operators.timeseries import gap_fill

    rows = [
        ("h1", datetime(2024, 1, 1, 0, 30), 10.0),
        ("h1", datetime(2024, 1, 1, 2, 0), 20.0),   # exactly on a grid point
        ("h2", datetime(2024, 1, 1, 3, 15), 7.0),
    ]
    df = spark.createDataFrame(rows, "hydrophone string, ts timestamp, value double")
    out = {
        (r["hydrophone"], r["grid_us"]): (r["value"], r["last_event_us"])
        for r in gap_fill(
            df, 3600, datetime(2024, 1, 1), datetime(2024, 1, 1, 5)
        ).collect()
    }
    h = 3600 * 1_000_000
    base = int(datetime(2024, 1, 1).timestamp()) * 1_000_000
    # before first observation -> nulls
    assert out[("h1", base)] == (None, None)
    # backward fill carries 10.0 across 01:00, exact-match at 02:00 takes 20.0
    assert out[("h1", base + 1 * h)][0] == 10.0
    assert out[("h1", base + 2 * h)][0] == 20.0
    assert out[("h1", base + 4 * h)][0] == 20.0
    # h2: null until 04:00 grid point after its 03:15 observation
    assert out[("h2", base + 3 * h)] == (None, None)
    assert out[("h2", base + 4 * h)][0] == 7.0
    # 5 grid points per key
    assert len(out) == 10


def test_embedding_near_pairs_arrow_matches_jvm(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    jvm = sorted(
        map(tuple, embedding_near_pairs(emb, 0.3).collect())
    )
    arrow = sorted(
        map(tuple, embedding_near_pairs(emb, 0.3, arrow=True).collect())
    )
    assert len(jvm) > 0
    assert jvm == arrow


def test_connected_components_chain_and_singleton(spark):
    from ambient_sound_analysis_api_spark.operators.graph import (
        connected_components,
    )

    # chain 1-2-3-4-5 (diameter > 1 iteration), pair 10-11, singleton 20
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 20]], "id long")
    out = {r["id"]: r["cluster_id"]
           for r in connected_components(edges, nodes, node_col="id").collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20}


def test_leakage_safe_split_co_splits_near_dups(spark, sf_dir):
    """The leakage guarantee itself: every member of a near-dup cluster
    carries the same split label, and near-dup PAIRS never straddle
    splits (keying the hash split on doc_id instead would violate this
    for any multi-doc cluster spanning a bucket boundary)."""
    from ambient_sound_analysis_api_spark.registry import (
        q_pipeline_leakage_safe_split,
    )

    rows = q_pipeline_leakage_safe_split(spark, sf_dir).collect()
    assert rows
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    # multi-doc clusters exist at this sf, so the invariant is non-vacuous
    sizes: dict = {}
    for r in rows:
        sizes[r["cluster_id"]] = sizes.get(r["cluster_id"], 0) + 1
    assert max(sizes.values()) >= 2
    # all three splits are populated
    assert {r["split"] for r in rows} == {"train", "valid", "test"}
