"""Round-8 hardening: default-on shingle-df cap, capacity-split warning,
k-center guards, fit-memo dataset fingerprinting."""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.operators import dedup
from ambient_sound_analysis_api_spark.operators.clustering import (
    kcenter_greedy,
)
from ambient_sound_analysis_api_spark.operators.similarity import knn_graph


# ------------------------------------------------ default-on hot-shingle cap


def test_shingle_df_cap_defaults_on():
    """The boilerplate-quadratic cap must be the default path (the
    round-7 VERDICT watch item), mirroring knn_graph's max_block_size."""
    for fn in (dedup.ngram_jaccard_pairs, dedup.containment_pairs):
        default = inspect.signature(fn).parameters["max_shingle_df"].default
        assert default == dedup.DEFAULT_MAX_SHINGLE_DF
        assert default is not None


def test_default_cap_binds_like_explicit_cap(spark):
    """With boilerplate hot enough to exceed the cap, the default path
    must drop boilerplate-only pairs exactly as the explicit cap does,
    while exact copies still score 1.0 on their discriminating shingles."""
    boiler = "subscribe to our newsletter today"
    rows = [(i, f"unique{i} stuff{i} here{i} " + boiler) for i in range(8)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    explicit = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=0.3, max_shingle_df=4
        ).collect()
    }
    # default cap (1000) does not bind on 10 docs — boilerplate pairs stay
    dflt = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    assert (100, 101) in explicit and explicit[(100, 101)] == 1.0
    assert (100, 101) in dflt
    # under the binding cap the 8 boilerplate-only docs pair with no one
    assert all(a == 100 for a, _ in explicit)
    # monkey-level sanity: uncapped finds the boilerplate clique
    assert any(a < 100 for a, _ in dflt)


def test_embedding_near_pairs_capacity_split_bounds_block(spark):
    """One hot block above the cap: the split must keep every pair's
    endpoints within a sub-block (bounded fan-out) and scores unchanged
    for surviving pairs vs the exact form."""
    vecs = [(i, "hot", [1.0, float(i % 3)]) for i in range(12)]
    emb = spark.createDataFrame(
        vecs, "vec_id long, label string, embedding array<double>"
    )
    exact = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in dedup.embedding_near_pairs(
            emb, threshold=-1.0, max_block_size=None
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in dedup.embedding_near_pairs(
            emb, threshold=-1.0, max_block_size=4
        ).collect()
    }
    # capped pairs are a subset with identical scores
    assert set(capped) <= set(exact)
    assert all(exact[k] == v for k, v in capped.items())
    assert len(capped) < len(exact)  # the split really engaged


# ----------------------------------------------------- knn_graph warning


def test_knn_graph_warns_when_capacity_split_truncates(spark):
    emb = spark.createDataFrame(
        [(i, "a", [float(i), 1.0]) for i in range(10)],
        "vec_id long, label string, embedding array<double>",
    )
    with pytest.warns(UserWarning, match="hash-split"):
        knn_graph(emb, k=1, max_block_size=3).collect()


def test_knn_graph_no_warning_when_blocks_fit(spark, recwarn):
    emb = spark.createDataFrame(
        [(i, "a", [float(i), 1.0]) for i in range(5)],
        "vec_id long, label string, embedding array<double>",
    )
    knn_graph(emb, k=1, max_block_size=1024).collect()
    assert not [w for w in recwarn.list if issubclass(w.category, UserWarning)]


# ----------------------------------------------------- k-center guards


def test_kcenter_empty_input_raises(spark):
    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no rows"):
        kcenter_greedy(emb, k=2)


def test_kcenter_k_exceeds_rows_raises(spark):
    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="exceeds"):
        kcenter_greedy(emb, k=5)


def test_kcenter_still_exact_after_guard(spark):
    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = kcenter_greedy(emb, k=3).orderBy("pick").collect()
    assert [r.vec_id for r in rows] == [1, 2, 3]
    assert rows[0].min_dist is None
    assert rows[1].min_dist == 25.0  # squared L2 to seed
    assert rows[2].min_dist == 1.0


# ------------------------------------------ fitted-artifact fingerprinting


def test_dataset_fingerprint_changes_on_rewrite(tmp_path, monkeypatch):
    """A rewritten table gets a new fingerprint, so its stored artifact is
    rebuilt exactly once (with the replaced artifact as ``prev``) and the
    key keeps one entry, not one per generation."""
    from ambient_sound_analysis_api_spark import registry as R

    monkeypatch.setattr(R, "_ARTIFACTS", {})
    sf = str(tmp_path)
    p = tmp_path / "documents.parquet"
    p.write_bytes(b"v1-bytes")
    fp1 = R._dataset_fingerprint(sf, "documents")
    calls = []

    def build(prev, fp):
        calls.append((prev, fp))
        return f"artifact-v{len(calls)}"

    for _ in range(2):
        assert R._artifact(sf, "documents", "k", 4, 8, build=build) == (
            "artifact-v1"
        )
    assert calls == [(None, fp1)]

    p.write_bytes(b"v2-bytes-longer")
    fp2 = R._dataset_fingerprint(sf, "documents")
    assert fp2 != fp1  # regenerated data -> rebuild
    for _ in range(2):
        assert R._artifact(sf, "documents", "k", 4, 8, build=build) == (
            "artifact-v2"
        )
    assert calls == [(None, fp1), ("artifact-v1", fp2)]
    # the stale artifact was replaced in place: no unbounded growth
    assert R._ARTIFACTS == {(fp2[0], "k", 4, 8): (fp2, "artifact-v2")}
