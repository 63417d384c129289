"""Segmented IVF-PQ code store: tombstone deletion lifecycle (round-13
VERDICT #2). Claims under test:

- delete publishes the SAME membership (no code file rewritten), and
  serving excludes exactly the tombstoned ids,
- serve after delete equals a from-scratch serve over the surviving
  corpus with the SAME frozen model (codes/cells never refit),
- delete is idempotent,
- compaction folds tombstones out physically and clears the table.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.operators import pq as P


def _emb(spark, lo, hi, d=8, ncell=4):
    rows = [
        (
            i,
            [float(((i * 7 + j * 3) % 13) - 6) / 4.0 for j in range(d)],
            i % ncell,
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _store(spark, tmp_path, n=48):
    emb = _emb(spark, 0, n)
    books = P.pq_fit(emb, m=2, k=4, n_iter=2)
    root = str(tmp_path / "ivfpq_seg")
    P.ivfpq_publish_segmented(emb, books, root, retain=6)
    return emb, books, root


def _serve(spark, root, emb, books, k=40):
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    return P.ivfpq_segmented_topk(
        spark, root, emb, books, [float(x) for x in qrow[0]],
        query_id=0, k=k, nprobe=4,
    ).collect()


def test_delete_excludes_ids_without_touching_codes(spark, tmp_path):
    emb, books, root = _store(spark, tmp_path)
    snap = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{root}/segs/*/cell=*/*.parquet")
    }
    assert snap  # the segment really is cell-partitioned on disk
    gone = spark.createDataFrame([(5,), (9,), (21,)], "vec_id long")
    P.ivfpq_delete_ids(gone, root, retain=6)
    assert {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{root}/segs/*/cell=*/*.parquet")
    } == snap
    got = _serve(spark, root, emb, books)
    got_ids = {r["vec_id"] for r in got}
    assert not got_ids & {5, 9, 21}
    # equal to serving the surviving corpus from a fresh store with the
    # SAME frozen model (codes/cells never refit on delete)
    survivors = emb.filter(~F.col("vec_id").isin(5, 9, 21))
    root2 = str(tmp_path / "rebuild")
    P.ivfpq_publish_segmented(survivors, books, root2, retain=6)
    ref = _serve(spark, root2, emb, books)
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_delete_idempotent(spark, tmp_path):
    emb, books, root = _store(spark, tmp_path, n=40)
    gone = spark.createDataFrame([(3,), (11,)], "vec_id long")
    P.ivfpq_delete_ids(gone, root, retain=6)
    once = _serve(spark, root, emb, books, k=50)
    P.ivfpq_delete_ids(gone, root, retain=6)
    twice = _serve(spark, root, emb, books, k=50)
    assert not {r["vec_id"] for r in twice} & {3, 11}
    assert [tuple(r) for r in twice] == [tuple(r) for r in once]


def test_compaction_folds_tombstones_out(spark, tmp_path):
    emb, books, root = _store(spark, tmp_path)
    gone = spark.createDataFrame([(2,), (14,)], "vec_id long")
    P.ivfpq_delete_ids(gone, root, retain=6)
    before = _serve(spark, root, emb, books)
    P.ivfpq_compact_segments(spark, root, retain=6)
    from ambient_sound_analysis_api_spark.operators.atomic_swap import (
        read_small_file, _read_tombstones, resolve_version,
    )

    _, vpath = resolve_version(spark, root)
    assert _read_tombstones(spark, vpath) is None
    segs = json.loads(read_small_file(spark, f"{vpath}/segments.json"))[
        "segments"
    ]
    assert len(segs) == 1
    live = spark.read.parquet(f"{root}/segs/{segs[0]}")
    assert live.filter(F.col("vec_id").isin(2, 14)).count() == 0
    after = _serve(spark, root, emb, books)
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
