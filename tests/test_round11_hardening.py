"""Round-11 hardening: ADVICE-item regression tests.

- ``incremental_minhash_pairs`` defends against id overlap between the
  delta batch and the standing corpus (the disjoint-id contract is now
  enforced by an anti-join, not assumed).
- A persisted index refreshed in place keeps its old version readable.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_incremental_minhash_overlapping_ids(spark):
    """An id present in BOTH new_df and corpus_df must contribute exactly
    one signature row (the new version), not duplicate candidate pairs
    with conflicting est_jaccard (ADVICE round-10)."""
    from ambient_sound_analysis_api_spark.operators.dedup import (
        incremental_minhash_pairs,
    )

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [
            (1, text_a),
            (2, text_a + " tail"),
            # id 3's CORPUS version: unrelated text
            (3, "completely different corpus content with many words here"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # id 3 re-submitted in the delta with near-dup-of-1 text
            (3, text_a + " x"),
            (10, text_a),
        ],
        "doc_id long, text string",
    )
    out = incremental_minhash_pairs(
        new, corpus, num_hashes=32, bands=8, n=3, threshold=0.3
    ).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in out]
    # no duplicated pair rows despite the id-3 overlap
    assert len(pairs) == len(set(pairs))
    # the pair (1, 3) must reflect the NEW id-3 text (near-dup of 1);
    # the corpus version of id 3 shares no shingles with doc 1
    m = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in out}
    assert (1, 3) in m and m[(1, 3)] >= 0.3
    # and every (1,3)/(3,10) row is tagged with exactly one side
    sides = {
        (r["id_a"], r["id_b"]): r["side"] for r in out
    }
    assert sides[(1, 3)] == "cross"
    if (3, 10) in sides:
        assert sides[(3, 10)] == "batch"


def test_persisted_index_refresh_keeps_old_version_readable(
    spark, sf_dir, monkeypatch
):
    """ADVICE round-10 scenario, end-to-end at the registry level: a
    dataset regenerated in place republishes the persisted code index as
    a NEW version in the same store — a lazy DataFrame returned BEFORE
    the regeneration keeps collecting (its version's segment is retained
    by the store's GC grace, never rmtree'd under it), and the serve path
    flips to the new version."""
    import os

    from ambient_sound_analysis_api_spark import registry as R
    from ambient_sound_analysis_api_spark.operators import atomic_swap

    q = R.queries()["emb_ivfpq_persisted_topk"]
    before = q(spark, sf_dir)
    skey = (os.path.join(sf_dir, "embeddings.parquet"), "cellidx", 4, 8, 2)
    fp1, root = R._ARTIFACTS[skey]
    # the store root is owned by the process-level dir the atexit hook
    # removes
    assert os.path.dirname(root) == R._store_parent()
    v1, segs1, _ = atomic_swap.current_segments(spark, root, "test")
    seg_old = f"{root}/segs/{segs1[0]}"
    lazy_old = spark.read.parquet(seg_old)
    n_old = lazy_old.count()

    # simulate in-place regeneration: same path, new fingerprint
    real_fp = R._dataset_fingerprint

    def fake_fp(sf, table):
        f = real_fp(sf, table)
        return (f[0], f[1] + 1, f[2]) if table == "embeddings" else f

    monkeypatch.setattr(R, "_dataset_fingerprint", fake_fp)
    after = q(spark, sf_dir)
    fp2, root2 = R._ARTIFACTS[skey]
    v2, segs2, _ = atomic_swap.current_segments(spark, root2, "test")
    assert root2 == root and v2 != v1 and segs2 != segs1 and fp2 != fp1
    # the pre-refresh lazy handle still reads its immutable segment
    assert os.path.exists(v1) and os.path.exists(seg_old)
    assert lazy_old.count() == n_old
    # both serves return the same 12-row top-k (same data after all)
    assert before.count() == after.count() == 12
    monkeypatch.setattr(R, "_dataset_fingerprint", real_fp)
    # drop the fake-fingerprint entry; the next use rebuilds on the real one
    R._ARTIFACTS.pop(skey, None)
