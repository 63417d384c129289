"""Segmented BM25 store: incremental admission contract (round-12
VERDICT #3). The claims under test:

- admitting a delta is value-equal to a full rebuild (tf rows append,
  df/avgdl merge algebraically),
- the admit tokenizes ONLY the delta and the serve path tokenizes
  nothing (no text column anywhere in the serve plan),
- standing segment files are untouched on disk by an admit,
- segment GC reclaims segments once no retained version references them.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.operators import retrieval as R

TEXTS = [
    "vector hash merge engine spark parquet",
    "hash hash hash table lookup vector",
    "merge sort join shuffle partition",
    "vector space model retrieval ranking",
    "completely unrelated words about nothing",
    "merge merge vector quantization codes",
    "hash join broadcast exchange plan",
    "tokenize index postings term stats",
]


def _docs(spark, lo, hi):
    rows = [(i, TEXTS[i % len(TEXTS)] + f" filler{i}") for i in range(lo, hi)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _full(spark, n=16):
    return _docs(spark, 0, n)


def test_incremental_equals_full_rebuild(spark, tmp_path):
    root = str(tmp_path / "bm25seg")
    R.bm25_publish_segmented(_docs(spark, 0, 12), root, retain=2)
    R.bm25_admit_delta(_docs(spark, 12, 16), root, retain=2)
    inc = R.bm25_segmented_topk(
        spark, root, ["vector", "hash", "merge"], k=20
    ).collect()
    full = R.bm25_topk(
        _full(spark), ["vector", "hash", "merge"], k=20
    ).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in full]


def test_admit_writes_only_delta_segment_and_serve_never_tokenizes(
    spark, tmp_path
):
    root = str(tmp_path / "bm25seg")
    R.bm25_publish_segmented(_docs(spark, 0, 12), root, retain=2)
    R.bm25_admit_delta(_docs(spark, 12, 16), root, retain=2)
    from ambient_sound_analysis_api_spark.operators.atomic_swap import (
        read_small_file, resolve_version,
    )

    _, vpath = resolve_version(spark, root)
    segs = json.loads(read_small_file(spark, f"{vpath}/segments.json"))[
        "segments"
    ]
    assert len(segs) == 2
    # exactly one segment holds exactly the delta doc_ids
    per_seg = {
        s: sorted(
            r[0]
            for r in spark.read.parquet(f"{root}/segs/{s}/doclens")
            .select("doc_id")
            .collect()
        )
        for s in segs
    }
    assert sorted(map(tuple, per_seg.values())) == [
        tuple(range(0, 12)), tuple(range(12, 16)),
    ]
    # the serve plan reads index parquet only: no text column, no
    # tokenizer expressions anywhere
    plan = R.bm25_segmented_topk(
        spark, root, ["vector", "hash", "merge"], k=20
    )._jdf.queryExecution().executedPlan().toString()
    assert "regexp" not in plan.lower()
    assert "text" not in [
        c.strip() for c in plan.lower().replace("#", " ").split()
    ]


def test_admit_leaves_standing_segment_files_untouched(spark, tmp_path):
    root = str(tmp_path / "bm25seg")
    R.bm25_publish_segmented(_docs(spark, 0, 12), root, retain=2)
    segdir = os.path.join(root, "segs")
    (base_seg,) = os.listdir(segdir)

    def snapshot():
        out = {}
        for dirpath, _dirs, files in os.walk(os.path.join(segdir, base_seg)):
            for fn in files:
                p = os.path.join(dirpath, fn)
                out[p] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    before = snapshot()
    R.bm25_admit_delta(_docs(spark, 12, 16), root, retain=2)
    assert snapshot() == before
    assert len(os.listdir(segdir)) == 2


def test_stats_and_termstats_merge_algebraically(spark, tmp_path):
    root = str(tmp_path / "bm25seg")
    R.bm25_publish_segmented(_docs(spark, 0, 12), root, retain=2)
    R.bm25_admit_delta(_docs(spark, 12, 16), root, retain=2)
    from ambient_sound_analysis_api_spark.operators.atomic_swap import (
        resolve_version,
    )

    _, vpath = resolve_version(spark, root)
    got = spark.read.parquet(f"{vpath}/stats").collect()[0]
    full = _full(spark).select(
        F.size(R.letter_tokens(F.col("text"))).alias("dl")
    ).agg(F.count("*"), F.sum("dl")).collect()[0]
    assert (got["n_docs"], got["sum_dl"]) == (full[0], full[1])
    ts = {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{vpath}/termstats").collect()
    }
    want = {
        r["term"]: r["tf_df"]
        for r in R.term_frequencies(_full(spark))
        .groupBy("term")
        .agg(F.count("*").alias("tf_df"))
        .collect()
    }
    assert ts == want


def test_segment_gc_reclaims_unreferenced_segments(spark, tmp_path):
    root = str(tmp_path / "bm25seg")
    R.bm25_publish_segmented(_docs(spark, 0, 8), root, retain=1)
    R.bm25_admit_delta(_docs(spark, 8, 12), root, retain=1)
    # a fresh FULL republish starts a new single-segment membership; with
    # retain=1 the older versions' manifests are GC'd, so the base and
    # delta segments lose their last reference and are reclaimed
    R.bm25_publish_segmented(_docs(spark, 0, 12), root, retain=1)
    segdir = os.path.join(root, "segs")
    assert len(os.listdir(segdir)) == 1
    got = R.bm25_segmented_topk(
        spark, root, ["vector", "hash"], k=20
    ).collect()
    full = R.bm25_topk(_docs(spark, 0, 12), ["vector", "hash"], k=20).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in full]


def test_admit_into_empty_root_is_base_publish(spark, tmp_path):
    root = str(tmp_path / "bm25seg")
    R.bm25_admit_delta(_docs(spark, 0, 8), root, retain=2)
    got = R.bm25_segmented_topk(spark, root, ["vector"], k=5).collect()
    full = R.bm25_topk(_docs(spark, 0, 8), ["vector"], k=5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in full]


def test_compaction_preserves_results_and_membership(spark, tmp_path):
    """bm25_compact_segments: one segment after, hash-equal results,
    no tokenize in either the compaction inputs or the serve plan."""
    root = str(tmp_path / "bm25seg")
    R.bm25_publish_segmented(_docs(spark, 0, 10), root, retain=2)
    R.bm25_admit_delta(_docs(spark, 10, 14), root, retain=2)
    R.bm25_admit_delta(_docs(spark, 14, 16), root, retain=2)
    before = R.bm25_segmented_topk(
        spark, root, ["vector", "hash", "merge"], k=20
    ).collect()
    R.bm25_compact_segments(spark, root, retain=2)
    from ambient_sound_analysis_api_spark.operators.atomic_swap import (
        read_small_file, resolve_version,
    )

    seq, vpath = resolve_version(spark, root)
    segs = json.loads(read_small_file(spark, f"{vpath}/segments.json"))[
        "segments"
    ]
    assert len(segs) == 1
    after = R.bm25_segmented_topk(
        spark, root, ["vector", "hash", "merge"], k=20
    ).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]
    full = R.bm25_topk(
        _full(spark), ["vector", "hash", "merge"], k=20
    ).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in full]


def test_compaction_then_retention_reclaims_old_segments(spark, tmp_path):
    root = str(tmp_path / "bm25seg")
    R.bm25_publish_segmented(_docs(spark, 0, 10), root, retain=1)
    R.bm25_admit_delta(_docs(spark, 10, 16), root, retain=1)
    R.bm25_compact_segments(spark, root, retain=1)
    # retain=1: only the compacted version's manifest survives, so the
    # base and delta segments lose their last reference immediately
    segdir = os.path.join(root, "segs")
    assert len(os.listdir(segdir)) == 1
    got = R.bm25_segmented_topk(spark, root, ["vector"], k=5).collect()
    full = R.bm25_topk(_full(spark), ["vector"], k=5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in full]


def test_delete_docs_equals_rebuild_without_deleted(spark, tmp_path):
    """Round-13 VERDICT #2: tombstone deletion — serving after a delete
    is value-equal to a full rebuild of the surviving corpus; standing
    segment files are untouched on disk; stats adjust from index rows."""
    import glob

    root = str(tmp_path / "bm25seg")
    R.bm25_publish_segmented(_docs(spark, 0, 12), root, retain=4)
    R.bm25_admit_delta(_docs(spark, 12, 16), root, retain=4)
    snap = {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{root}/segs/*/postings/*.parquet")
    }
    gone = spark.createDataFrame([(3,), (7,), (13,)], "doc_id long")
    R.bm25_delete_docs(gone, root, retain=4)
    # standing postings untouched on disk
    assert {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{root}/segs/*/postings/*.parquet")
    } == snap
    got = R.bm25_segmented_topk(
        spark, root, ["vector", "hash", "merge"], k=20
    ).collect()
    survivors = _docs(spark, 0, 16).filter(~F.col("doc_id").isin(3, 7, 13))
    full = R.bm25_topk(survivors, ["vector", "hash", "merge"], k=20).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in full]


def test_delete_is_idempotent_and_composes_with_admit(spark, tmp_path):
    root = str(tmp_path / "bm25seg")
    R.bm25_publish_segmented(_docs(spark, 0, 12), root, retain=6)
    gone = spark.createDataFrame([(2,), (5,)], "doc_id long")
    R.bm25_delete_docs(gone, root, retain=6)
    R.bm25_delete_docs(gone, root, retain=6)  # re-delete: no double subtract
    R.bm25_admit_delta(_docs(spark, 12, 16), root, retain=6)  # carries tombs
    got = R.bm25_segmented_topk(
        spark, root, ["vector", "hash", "merge"], k=20
    ).collect()
    survivors = _docs(spark, 0, 16).filter(~F.col("doc_id").isin(2, 5))
    full = R.bm25_topk(survivors, ["vector", "hash", "merge"], k=20).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in full]


def test_compaction_folds_tombstones_out(spark, tmp_path):
    root = str(tmp_path / "bm25seg")
    R.bm25_publish_segmented(_docs(spark, 0, 12), root, retain=6)
    gone = spark.createDataFrame([(1,), (4,)], "doc_id long")
    R.bm25_delete_docs(gone, root, retain=6)
    R.bm25_compact_segments(spark, root, retain=6)
    from ambient_sound_analysis_api_spark.operators.atomic_swap import (
        resolve_version,
    )
    _, vpath = resolve_version(spark, root)
    # compacted version is tombstone-free and physically excludes them
    from ambient_sound_analysis_api_spark.operators.atomic_swap import (
        _read_tombstones,
    )
    assert _read_tombstones(spark, vpath) is None
    import json as _json
    got = R.bm25_segmented_topk(
        spark, root, ["vector", "hash", "merge"], k=20
    ).collect()
    survivors = _docs(spark, 0, 12).filter(~F.col("doc_id").isin(1, 4))
    full = R.bm25_topk(survivors, ["vector", "hash", "merge"], k=20).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in full]
    # and the deleted ids are physically absent from the live segment
    from ambient_sound_analysis_api_spark.operators.atomic_swap import (
        read_small_file,
    )
    segs = _json.loads(read_small_file(spark, f"{vpath}/segments.json"))[
        "segments"
    ]
    live_dl = spark.read.parquet(
        *[f"{root}/segs/{s}/doclens" for s in segs]
    )
    assert live_dl.filter(F.col("doc_id").isin(1, 4)).count() == 0


def test_rm3_persisted_resolves_the_store_once(
    spark, tmp_path, monkeypatch
):
    """An RM3 serve resolves the store ONCE: the seed pass, the feedback
    count and the expanded pass all read that one version, and the
    result equals the recompute path."""
    root = str(tmp_path / "bm25seg")
    R.bm25_publish_segmented(_full(spark), root, retain=2)
    real = R.current_segments
    calls = []

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(R, "current_segments", counting)
    got = R.bm25_rm3_persisted_topk(
        spark, root, ["vector"], k=5, fb_k=3, n_expand=2
    ).collect()
    assert len(calls) == 1
    want = R.bm25_rm3_topk(
        _full(spark), ["vector"], k=5, fb_k=3, n_expand=2
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
