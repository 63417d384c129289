"""Round-9 hardening: fitted-artifact store precision and the
embedding_near_pairs truncation warning (the knn_graph contract)."""

from __future__ import annotations

import warnings


def test_artifact_kinds_on_one_table_coexist(tmp_path, monkeypatch):
    """Artifacts of different kinds or params on the SAME table coexist
    (evicting siblings would turn the store into refit-per-invocation),
    and a table's rewrite never touches other table paths. A rewrite
    does not evict sibling kinds up front: each is rebuilt on its own
    next use, so the store stays at one entry per (table path, kind,
    params)."""
    from ambient_sound_analysis_api_spark import registry as R

    monkeypatch.setattr(R, "_ARTIFACTS", {})
    sf = str(tmp_path)
    emb = tmp_path / "embeddings.parquet"
    emb.write_bytes(b"e1")
    (tmp_path / "documents.parquet").write_bytes(b"d1")
    builds = []

    def get(table, kind, *params):
        def build(prev, fp):
            builds.append((kind, params, prev))
            return (kind, params, fp[2])

        return R._artifact(sf, table, kind, *params, build=build)

    keys = [
        ("embeddings", "pq", 4, 8, 2),
        ("embeddings", "pq", 8, 16, 2),
        ("embeddings", "clustered-pq", 4, 8, 2),
        ("documents", "bloom"),
    ]
    first = [get(*k) for k in keys]
    assert [get(*k) for k in keys] == first
    assert len(builds) == 4 and len(R._ARTIFACTS) == 4

    # regenerate embeddings: only the kind in use is rebuilt
    emb.write_bytes(b"e2-longer")
    assert get(*keys[0]) == ("pq", (4, 8, 2), 9)
    assert builds[-1] == ("pq", (4, 8, 2), first[0])
    assert len(builds) == 5 and len(R._ARTIFACTS) == 4
    # a sibling kind is replaced on its next use, not before
    assert get(*keys[2]) == ("clustered-pq", (4, 8, 2), 9)
    assert len(builds) == 6 and len(R._ARTIFACTS) == 4

    # other table paths are never touched
    assert get(*keys[3]) == first[3] and len(builds) == 6


def test_artifact_store_concurrent_get_or_build(tmp_path, monkeypatch):
    """16 threads share the store while one of them keeps rewriting the
    table: no call raises, every entry holds the artifact built for its
    own fingerprint, and a racing stale write is rebuilt on next use."""
    import sys
    import threading

    from ambient_sound_analysis_api_spark import registry as R

    monkeypatch.setattr(R, "_ARTIFACTS", {})
    sf = str(tmp_path)
    table = tmp_path / "embeddings.parquet"
    table.write_bytes(b"v")
    errors = []

    def echo_fp(prev, fp):
        return fp

    def worker(i):
        try:
            for j in range(300):
                if i == 0 and j % 50 == 0:
                    table.write_bytes(b"v" * (j + 2))
                R._artifact(sf, "embeddings", "k", j % 8, build=echo_fp)
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(R._ARTIFACTS) == 8
    assert all(fp == art for fp, art in R._ARTIFACTS.values())
    fp = R._dataset_fingerprint(sf, "embeddings")
    for p in range(8):
        assert R._artifact(sf, "embeddings", "k", p, build=echo_fp) == fp


def test_embedding_near_pairs_warns_when_cap_engages(spark):
    from ambient_sound_analysis_api_spark.operators.dedup import (
        embedding_near_pairs,
    )

    rows = [(i, 0, [float(i % 3) + 1.0, 1.0]) for i in range(12)]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        embedding_near_pairs(emb, threshold=0.0, max_block_size=4)
        assert any("hash-split" in str(x.message) for x in w)
    # lazy opt-out stays silent
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        embedding_near_pairs(
            emb, threshold=0.0, max_block_size=4, warn_on_truncation=False
        )
        assert not any("hash-split" in str(x.message) for x in w)
    # under-cap blocks stay silent too
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        embedding_near_pairs(emb, threshold=0.0, max_block_size=100)
        assert not any("hash-split" in str(x.message) for x in w)


def test_representative_pairs_expand_equals_raw(spark):
    """Row-for-row equivalence: expanding the collapsed representative
    pairs through the membership table reconstructs exactly the raw
    ngram_jaccard_pairs output (same n/threshold, uncapped universe),
    and sum(n_expanded) equals the raw pair count."""
    from ambient_sound_analysis_api_spark.operators import dedup

    base = [
        ("the quick brown fox jumps over the lazy dog today", 3),
        ("the quick brown fox jumps over the lazy cat today", 2),
        ("completely different text about spark query engines here", 1),
        ("tiny", 2),  # < 3 tokens: shingle-less, pairs with nothing
    ]
    rows, did = [], 0
    for txt, copies in base:
        for _ in range(copies):
            rows.append((did, txt))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    raw = dedup.ngram_jaccard_pairs(
        df, n=3, threshold=0.2, max_shingle_df=None
    )
    rep = dedup.representative_near_pairs(
        df, n=3, threshold=0.2, max_shingle_df=None
    )
    membership = dedup.doc_representatives(df)
    expanded = dedup.expand_representative_pairs(rep, membership)

    a = sorted((r.id_a, r.id_b, r.jaccard) for r in raw.collect())
    b = sorted((r.id_a, r.id_b, r.jaccard) for r in expanded.collect())
    assert a == b and len(a) > 0

    rep_rows = rep.collect()
    assert sum(r.n_expanded for r in rep_rows) == len(a)
    # shape: 1 cross rep-pair (dog≈cat), diagonals for the two multi-copy
    # shingled groups; the shingle-less 'tiny' group emits NO diagonal
    cross = [r for r in rep_rows if r.id_a != r.id_b]
    diag = [r for r in rep_rows if r.id_a == r.id_b]
    assert len(cross) == 1 and cross[0].n_expanded == 6  # 3 × 2 copies
    assert len(diag) == 2
    assert {r.n_expanded for r in diag} == {3, 1}  # C(3,2), C(2,2)
