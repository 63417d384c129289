"""Multi-process contract for the persisted IVF-PQ index store,
exercised through the segmented code store's publish
(``pq.ivfpq_publish_segmented``): immutable version directories
+ an atomic manifest-pointer publish, so a writer refreshing the index
never breaks a concurrent reader and GC is safe cross-process.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.operators import atomic_swap
from ambient_sound_analysis_api_spark.operators import pq as PQ


def _emb(spark, seed_shift=0, n=40):
    rows = [
        (
            i,
            [float((i * 7 + j * 3 + seed_shift) % 13) for j in range(4)],
            i % 2,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _fit(emb):
    return PQ.pq_fit(emb, m=2, k=2, n_iter=1)


def _ids(spark, root):
    """Ids in the current version's code segments."""
    _, segs, _ = atomic_swap.current_segments(spark, root, "test")
    return sorted(
        r["vec_id"]
        for r in PQ._read_code_segments(spark, root, segs)
        .select("vec_id")
        .collect()
    )


def test_publish_resolve_roundtrip(spark, tmp_path):
    root = str(tmp_path / "idx")
    emb = _emb(spark)
    v1 = PQ.ivfpq_publish_segmented(emb, _fit(emb), root, retain=2)
    got = atomic_swap.resolve_version(spark, root)
    assert got is not None
    seq, path = got
    assert seq == 1 and path == v1
    assert _ids(spark, root) == list(range(40))
    # code columns present, no vector column in the stored table
    _, segs, _ = atomic_swap.current_segments(spark, root, "test")
    cols = set(PQ._read_code_segments(spark, root, segs).columns)
    assert {"vec_id", "code_0", "code_1"} <= cols and "embedding" not in cols


def test_refresh_never_breaks_concurrent_reader(spark, tmp_path):
    """A reader that resolved v1 and holds a LAZY DataFrame on it keeps
    working across a concurrent publish of v2; a fresh resolve sees v2."""
    root = str(tmp_path / "idx")
    emb1 = _emb(spark, n=30)
    PQ.ivfpq_publish_segmented(emb1, _fit(emb1), root, retain=2)
    p1, segs1, _ = atomic_swap.current_segments(spark, root, "test")
    lazy_reader = PQ._read_code_segments(spark, root, segs1).filter(
        F.col("vec_id") >= 0
    )

    emb2 = _emb(spark, seed_shift=5, n=50)
    PQ.ivfpq_publish_segmented(emb2, _fit(emb2), root, retain=2)

    # old handle still collects fully — v1's segment is immutable and
    # referenced by a version inside the retain window
    assert lazy_reader.count() == 30
    seq2, p2 = atomic_swap.resolve_version(spark, root)
    assert seq2 == 2 and p2 != p1
    assert len(_ids(spark, root)) == 50


def test_retention_gc_prunes_old_versions(spark, tmp_path):
    import os

    root = str(tmp_path / "idx")
    emb = _emb(spark)
    books = _fit(emb)
    p1 = PQ.ivfpq_publish_segmented(emb, books, root, retain=1)
    p2 = PQ.ivfpq_publish_segmented(emb, books, root, retain=1)
    p3 = PQ.ivfpq_publish_segmented(emb, books, root, retain=1)
    # retain=1: publishing seq 3 GCs everything with seq <= 2... except
    # the grace window keeps seq > 3-1=2, i.e. v1 and v2's manifests fall
    # away while v3 stays resolvable
    assert not os.path.exists(p1)
    assert not os.path.exists(p2)
    seq, path = atomic_swap.resolve_version(spark, root)
    assert seq == 3 and path == p3 and os.path.exists(p3)
    # retain=2 keeps one refresh of grace
    root2 = str(tmp_path / "idx2")
    q1 = PQ.ivfpq_publish_segmented(emb, books, root2, retain=2)
    q2 = PQ.ivfpq_publish_segmented(emb, books, root2, retain=2)
    q3 = PQ.ivfpq_publish_segmented(emb, books, root2, retain=2)
    assert not os.path.exists(q1)
    assert os.path.exists(q2) and os.path.exists(q3)


def test_crashed_writer_is_invisible_then_reclaimed(spark, tmp_path):
    """A writer dying mid-write leaves an orphan version dir with no
    manifest: readers never see it, and a later publish's GC reclaims it
    once it falls outside the grace window."""
    import os

    root = str(tmp_path / "idx")
    emb = _emb(spark)
    books = _fit(emb)
    PQ.ivfpq_publish_segmented(emb, books, root, retain=1)
    # simulate the crash: version written, manifest never renamed in
    orphan = f"{root}/v-000000001-deadbeef"
    PQ.ivfpq_write_index(emb, books, orphan)
    seq, path = atomic_swap.resolve_version(spark, root)
    assert seq == 1 and "deadbeef" not in path
    # orphan seq (1) <= cutoff after the next publish (2-1=1) → reclaimed
    PQ.ivfpq_publish_segmented(emb, books, root, retain=1)
    assert not os.path.exists(orphan)
    seq2, _ = atomic_swap.resolve_version(spark, root)
    assert seq2 == 2


def test_same_sequence_race_retries_to_next(spark, tmp_path, monkeypatch):
    """The loser of a same-sequence manifest race must not clobber the
    winner: the rename fails (dest exists) and the writer republishes its
    version under the next sequence."""
    root = str(tmp_path / "idx")
    emb = _emb(spark)
    books = _fit(emb)
    PQ.ivfpq_publish_segmented(emb, books, root, retain=5)
    # make the next writer believe nothing is published (stale listing,
    # i.e. it raced another writer that landed seq 1 first)
    real = atomic_swap._list_index_manifests
    calls = {"n": 0}

    def stale_once(spark_, root_):
        calls["n"] += 1
        if calls["n"] == 1:
            return []
        return real(spark_, root_)

    monkeypatch.setattr(atomic_swap, "_list_index_manifests", stale_once)
    PQ.ivfpq_publish_segmented(emb, books, root, retain=5)
    monkeypatch.setattr(atomic_swap, "_list_index_manifests", real)
    seq, path = atomic_swap.resolve_version(spark, root)
    assert seq == 2, "raced writer must land on the next sequence"
    assert _ids(spark, root) == list(range(40))


def test_publish_rejects_bad_retain(spark, tmp_path):
    emb = _emb(spark)
    with pytest.raises(ValueError, match="retain"):
        PQ.ivfpq_publish_segmented(
            emb, _fit(emb), str(tmp_path / "x"), retain=0
        )


def test_write_index_refuses_an_existing_path(spark, tmp_path):
    """``ivfpq_write_index`` is only ever handed a fresh segment path: a
    second write to the same path raises instead of replacing the table,
    and the first table still reads."""
    path = str(tmp_path / "codes")
    emb = _emb(spark)
    books = _fit(emb)
    PQ.ivfpq_write_index(emb, books, path)
    with pytest.raises(Exception, match="already exists"):
        PQ.ivfpq_write_index(_emb(spark, n=5), books, path)
    ids = [r["vec_id"] for r in spark.read.parquet(path).collect()]
    assert sorted(ids) == list(range(40))
