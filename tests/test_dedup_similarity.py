from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    hamming_near_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from ambient_sound_analysis_api_spark.operators.similarity import (
    cosine_topk_by_id,
    ivf_topk,
    lsh_bucket,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
    (3, "The  quick  brown fox jumps over the lazy dog"),      # ws/case variant
    (4, "the quick brown fox jumps over the sleepy dog"),       # near dup
    (5, "completely different words entirely unrelated text here"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    out = {r["text_md5"]: r for r in exact_dedup(docs).collect()}
    assert len(out) == 4  # 1&2 collapse
    assert any(r["n_copies"] == 2 and r["keep_id"] == 1 for r in out.values())


def test_fingerprint_dedup_catches_formatting(docs):
    out = fingerprint_dedup(docs).collect()
    assert len(out) == 3  # 1,2,3 collapse under normalization
    assert any(r["n_copies"] == 3 and r["keep_id"] == 1 for r in out)


def test_ngram_jaccard(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 1.0  # normalization folds whitespace/case
    assert 0.3 < pairs[(1, 4)] < 1.0
    assert (1, 5) not in pairs


def test_minhash_estimates_jaccard(docs):
    sigs = minhash_signatures(docs, num_hashes=64)
    assert sigs.count() == 5
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            docs, num_hashes=64, bands=16, threshold=0.05
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # near-dup estimate should be in a plausible band around true ~0.45
    assert 0.15 < pairs[(1, 4)] < 0.9


def test_simhash_identical_and_near(docs):
    sh = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[1] == sh[2]
    near = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_near_pairs(simhash(docs), max_dist=63).collect()
    }
    assert near.get((1, 2), None) == 0


VECS = [
    (0, [1.0, 0.0, 0.0], 0),
    (1, [0.9, 0.1, 0.0], 0),
    (2, [0.0, 1.0, 0.0], 1),
    (3, [-1.0, 0.0, 0.0], 1),
    (4, [0.8, 0.2, 0.0], 0),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        VECS, "vec_id long, embedding array<float>, label int"
    ).cache()


def test_cosine_topk_by_id_excludes_query(vecs):
    top = cosine_topk_by_id(vecs, 0, k=4).collect()
    assert [r["vec_id"] for r in top][:2] == [1, 4]
    assert all(r["vec_id"] != 0 for r in top)


def test_ivf_restricts_to_cell(vecs):
    top = ivf_topk(vecs, 0, k=4).collect()
    assert {r["vec_id"] for r in top} == {1, 4}  # only label-0 cell searched


def test_lsh_bucket_deterministic(vecs):
    planes = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    b = {r["vec_id"]: r["lsh_bucket"] for r in lsh_bucket(vecs, planes).collect()}
    assert b[0] == b[1] == b[4]  # same orthant
    assert b[0] != b[3]


def test_lsh_plane_table_matches_literal_buckets(vecs, spark, tmp_path):
    """The persisted-plane-table bucketing (broadcast 1-row packed planes,
    JVM fold) must assign the identical bucket ids as the plane-literal
    form, and survive a write→read round trip."""
    from ambient_sound_analysis_api_spark.operators.similarity import (
        lsh_bucket_table,
        write_plane_table,
    )

    planes = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    path = str(tmp_path / "planes")
    write_plane_table(spark, path, planes)
    planes_df = spark.read.parquet(path)
    lit = {r["vec_id"]: r["lsh_bucket"] for r in lsh_bucket(vecs, planes).collect()}
    tab = {
        r["vec_id"]: r["lsh_bucket"]
        for r in lsh_bucket_table(vecs, planes_df).collect()
    }
    assert lit == tab


def test_sim_lsh_hyperplane_stable_across_runs(spark, sf_dir):
    """Rows-only driver check contract: two runs of the registry query
    (plane table written once, then read back) give identical rows."""
    from ambient_sound_analysis_api_spark.registry import q_sim_lsh_hyperplane

    a = [tuple(r) for r in q_sim_lsh_hyperplane(spark, sf_dir).collect()]
    b = [tuple(r) for r in q_sim_lsh_hyperplane(spark, sf_dir).collect()]
    assert a == b and len(a) == 5


def test_multiprobe_recovers_one_bit_miss(spark, tmp_path):
    """A true near neighbor that fell just across ONE hyperplane is missed
    by single-probe LSH but recovered by Hamming-1 multi-probe."""
    from ambient_sound_analysis_api_spark.operators.similarity import (
        lsh_topk_multiprobe,
        lsh_topk_table,
        write_plane_table,
    )

    planes = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    path = str(tmp_path / "planes")
    write_plane_table(spark, path, planes)
    planes_df = spark.read.parquet(path)
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.1, 0.0]),    # query → bucket 0b11
            (1, [1.0, -0.1, 0.0]),   # true nearest, one sign bit off → 0b01
            (2, [0.1, 1.0, 0.0]),    # same bucket as query, far vector
        ],
        "vec_id long, embedding array<double>",
    )
    single = [r["vec_id"] for r in lsh_topk_table(vecs, 0, planes_df, k=1).collect()]
    multi = [
        r["vec_id"] for r in lsh_topk_multiprobe(vecs, 0, planes_df, k=1).collect()
    ]
    assert single == [2]   # the one-bit miss: true neighbor invisible
    assert multi == [1]    # recovered by probing the Hamming-1 bucket


def test_multiprobe_recall_superset(spark, sf_dir):
    """On the real embeddings table multi-probe candidates are a superset of
    single-probe, so its top-k cosine floor can only improve."""
    from ambient_sound_analysis_api_spark.registry import (
        q_sim_lsh_hyperplane,
        q_sim_lsh_multiprobe,
    )

    single = {r["vec_id"]: r["cosine_sim"]
              for r in q_sim_lsh_hyperplane(spark, sf_dir).collect()}
    multi = {r["vec_id"]: r["cosine_sim"]
             for r in q_sim_lsh_multiprobe(spark, sf_dir).collect()}
    assert min(multi.values()) >= min(single.values())


def test_ngram_jaccard_max_shingle_df_drops_boilerplate(spark):
    # every doc shares the same boilerplate prefix; only 1&2 share real
    # content. With the df cap, the boilerplate-only pair (1,3) disappears
    # while the true near-dup pair keeps its exact Jaccard value.
    docs = spark.createDataFrame(
        [
            (1, "subscribe to our newsletter today folks. cats sit on warm mats"),
            (2, "subscribe to our newsletter today folks. cats sit on warm mats"),
            (3, "subscribe to our newsletter today folks. dogs run in cold yards"),
        ],
        "doc_id long, text string",
    )
    full = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()}
    capped = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in ngram_jaccard_pairs(
                  docs, n=3, threshold=0.1, max_shingle_df=2).collect()}
    assert (1, 3) in full and (1, 3) not in capped
    assert capped[(1, 2)] == full[(1, 2)] == 1.0


def test_hamming_bucket_cap_skips_giant_clusters(spark):
    # 6 identical docs form one giant bucket per band; one distinct near-pair
    # (docs 10/11 differ slightly) survives the cap.
    rows = [(i, "common words repeated all over this text body") for i in range(6)]
    rows += [
        (10, "a completely different document about whales and hydrophones"),
        (11, "a completely different document about whales and microphones"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sim = simhash(docs)
    full = {(r["id_a"], r["id_b"])
            for r in hamming_near_pairs(sim, max_dist=10).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in hamming_near_pairs(sim, max_dist=10, max_bucket_size=4).collect()}
    assert (10, 11) in full and (10, 11) in capped
    # the 15 identical-cluster pairs are dropped by the cap
    assert all(a >= 10 for a, _ in capped)
    assert any(a < 10 for a, _ in full)


def test_ivf_nprobe_widens_search(vecs):
    """nprobe=2 probes the query cell plus the next-nearest cell: the
    candidate set strictly contains the nprobe=1 (own-cell) candidates."""
    from ambient_sound_analysis_api_spark.operators.similarity import (
        ivf_topk_nprobe,
    )

    top = ivf_topk_nprobe(vecs, 0, k=4, nprobe=2).collect()
    got = [r["vec_id"] for r in top]
    assert got == [1, 4, 2, 3]  # both cells searched, cosine-ordered
    single = {r["vec_id"] for r in ivf_topk(vecs, 0, k=4).collect()}
    assert single < set(got)


def test_ivf_nprobe_recall_vs_brute_force(spark, sf_dir):
    """On the real embeddings, nprobe=2 top-k overlap with exact brute
    force is at least the nprobe=1 overlap (more cells, never fewer)."""
    from ambient_sound_analysis_api_spark.operators.similarity import (
        cosine_topk_by_id,
        ivf_topk_nprobe,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {r["vec_id"] for r in cosine_topk_by_id(emb, 0, k=10).collect()}
    p1 = {r["vec_id"] for r in ivf_topk(emb, 0, k=10).collect()}
    p2 = {r["vec_id"] for r in ivf_topk_nprobe(emb, 0, k=10, nprobe=2).collect()}
    assert len(p2 & exact) >= len(p1 & exact)


def test_ivf_cell_centroids_stable(spark, sf_dir):
    from ambient_sound_analysis_api_spark.operators.similarity import (
        ivf_cell_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = {r["cell"]: r["centroid"] for r in ivf_cell_centroids(emb).collect()}
    b = {
        r["cell"]: r["centroid"]
        for r in ivf_cell_centroids(emb.repartition(7)).collect()
    }
    assert a == b and len(a) == 10  # bit-identical across partitionings


def test_plane_table_written_once_under_store_parent(spark, monkeypatch):
    """_lsh_plane_table writes the content-deterministic planes once per
    process, under the process-level store directory removed at exit, and
    reads back exactly _lsh_planes()."""
    import os

    from ambient_sound_analysis_api_spark import registry

    writes = []
    real = registry.similarity.write_plane_table

    def counting(spark_, path, planes):
        writes.append(path)
        real(spark_, path, planes)

    monkeypatch.setattr(registry.similarity, "write_plane_table", counting)
    monkeypatch.setattr(registry, "_LSH_PLANE_PATH", None)
    first = registry._lsh_plane_table(spark).collect()
    second = registry._lsh_plane_table(spark).collect()
    assert len(writes) == 1
    parent = os.path.realpath(registry._store_parent())
    assert os.path.realpath(writes[0]).startswith(parent + os.sep)
    rows = sorted((r["plane_id"], list(r["plane"])) for r in first)
    assert rows == list(enumerate(registry._lsh_planes()))
    assert sorted((r["plane_id"], list(r["plane"])) for r in second) == rows


def test_repeated_span_stats_semantics(spark):
    from ambient_sound_analysis_api_spark.operators.dedup import repeated_span_stats

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            # A and B share the 8-token span inside different prefixes/suffixes
            (1, "one two three " + shared + " tail1 tail2"),
            (2, "x y " + shared),
            # C: >= 8 tokens, all spans unique to C
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
            # D: too short for any 8-gram span
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_span_stats(docs, n=8).collect()}
    assert set(out) == {1, 2, 3, 4}
    # the shared span is one distinct 8-gram in each doc
    assert out[1].n_dup_spans == 1 and out[2].n_dup_spans == 1
    # doc 1: 13 tokens -> 6 spans; doc 2: 10 tokens -> 3 spans
    assert out[1].n_spans == 6 and out[2].n_spans == 3
    assert out[2].dup_fraction == round(1 / 3, 4)
    assert out[3].n_dup_spans == 0 and out[3].n_spans == 3
    assert out[4].n_spans == 0 and out[4].dup_fraction == 0.0


def test_repeated_span_stats_catches_long_repeat_as_run(spark):
    """A 10-token cross-doc repeat appears as 3 duplicated 8-gram spans."""
    from ambient_sound_analysis_api_spark.operators.dedup import repeated_span_stats

    rep = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    docs = spark.createDataFrame(
        [(1, "a b " + rep), (2, rep + " z w")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_span_stats(docs, n=8).collect()}
    assert out[1].n_dup_spans == 3 and out[2].n_dup_spans == 3


def test_projection_planes_deterministic_and_sparse():
    from ambient_sound_analysis_api_spark.operators.similarity import (
        sparse_projection_planes,
    )

    a = sparse_projection_planes(8, 64)
    b = sparse_projection_planes(8, 64)
    assert a == b
    flat = [w for row in a for w in row]
    assert set(flat) <= {-1, 0, 1}
    # Achlioptas sparsity: roughly 2/3 zeros
    assert 0.5 < flat.count(0) / len(flat) < 0.8


def test_project_embeddings_matches_numpy(spark):
    import numpy as np

    from ambient_sound_analysis_api_spark.operators.similarity import (
        project_embeddings,
        sparse_projection_planes,
    )

    rng = [((i * 37 + 11) % 100) / 25.0 - 2.0 for i in range(64)]
    df = spark.createDataFrame(
        [(1, [float(x) for x in rng])], "vec_id long, embedding array<float>"
    )
    planes = sparse_projection_planes(8, 64)
    row = project_embeddings(df, planes).collect()[0]
    v = np.array(rng, dtype=np.float32).astype(np.float64)
    P = np.array(planes, dtype=np.float64)
    exp = np.round(P @ v, 4) + 0.0
    got = np.array([getattr(row, f"p{j}") for j in range(8)])
    assert np.allclose(got, exp, atol=1e-9)


def test_containment_direction_and_hot_shingle_cap(spark):
    from ambient_sound_analysis_api_spark.operators.dedup import (
        containment_pairs,
    )

    frag = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, frag),                                   # fragment
            (2, frag + " zeta eta theta iota kappa"),    # superset of 1
            (3, "totally unrelated words in this doc"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.contained, r.container): r.containment
        for r in containment_pairs(docs, n=3, threshold=0.9).collect()
    }
    # every 3-gram of doc 1 appears in doc 2, not vice versa
    assert out.get((1, 2)) == 1.0
    assert (2, 1) not in out and (3, 2) not in out
    # capping away all shared shingles (df>1 here means every frag shingle)
    # removes the pair entirely — exact over the reduced universe
    capped = containment_pairs(
        docs, n=3, threshold=0.9, max_shingle_df=1
    ).collect()
    assert capped == []
