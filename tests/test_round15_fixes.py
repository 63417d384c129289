"""Round-15 fixes: ADVICE cache hygiene.

These pin the ADVICE-flagged cache behaviors: k-center frees its persists
on error, standardize does not persist an already-cached frame twice, and
BPE apply truncates lineage on long merge lists.
"""

from __future__ import annotations

import pytest


def test_kcenter_error_path_releases_caches(spark):
    """kcenter_greedy must not leak its per-round persist when k exceeds
    the distinct input rows (round-14 ADVICE: the raw persist survived
    the ValueError and release_caches could not free it)."""
    from ambient_sound_analysis_api_spark.operators.clustering import (
        kcenter_greedy,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    jsc = spark.sparkContext._jsc.sc()
    before = {t.id() for t in jsc.getRDDStorageInfo()}
    with pytest.raises(ValueError, match="exceeds"):
        kcenter_greedy(df, k=5)
    after = {t.id() for t in jsc.getRDDStorageInfo()}
    assert after <= before, "error path left a persisted round frame live"


def test_standardize_skips_persist_when_already_cached(spark):
    """standardize must not stack a second cache entry on a frame the
    caller already persisted (round-14 ADVICE)."""
    from ambient_sound_analysis_api_spark.operators import caching
    from ambient_sound_analysis_api_spark.operators.mlfit import standardize

    df = spark.createDataFrame(
        [(0.0, 1.0), (1.0, 3.0), (2.0, 5.0)], "a double, b double"
    ).persist()
    try:
        df.count()
        tracked_before = len(caching._TRACKED)
        out = standardize(df, ["a", "b"])
        out.count()
        assert len(caching._TRACKED) == tracked_before, (
            "standardize tracked_persist-ed an already-cached frame"
        )
    finally:
        df.unpersist()


def test_bpe_apply_long_merge_list_truncates_lineage(spark):
    """bpe_apply past _APPLY_CHECKPOINT_EVERY merges must still produce
    the greedy-left encoding (the checkpoint is transparent)."""
    from ambient_sound_analysis_api_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "abababab abab"), (2, "abab")], "doc_id long, text string"
    )
    # 13 merges (> _APPLY_CHECKPOINT_EVERY = 12): first merge is real,
    # the rest are no-ops on this corpus — output must equal the
    # single-merge encoding
    merges = [("a", "b")] + [("q", chr(ord("a") + i)) for i in range(12)]
    assert len(merges) > lm._APPLY_CHECKPOINT_EVERY

    def seqs(out_rows):
        # compare (word, freq, ordered symbol sequence): the raw position
        # column is re-densified every round (with or without the
        # checkpoint), so no-op rounds legally renumber it
        by_word: dict = {}
        for r in sorted(out_rows, key=lambda r: (r["word"], r["i"])):
            by_word.setdefault((r["word"], r["freq"]), []).append(r["s"])
        return by_word

    long_out = seqs(lm.bpe_apply(docs, merges).collect())
    short_out = seqs(lm.bpe_apply(docs, [("a", "b")]).collect())
    assert long_out == short_out


def test_tracked_persist_skips_an_already_cached_plan(spark):
    """A frame whose plan is already cached comes back as is and untracked:
    persisting it again would only log 'Asked to cache already cached
    data', and the owner of the first cache releases it."""
    from ambient_sound_analysis_api_spark.operators import caching

    first = caching.tracked_persist(spark.range(5).selectExpr("id * 3 AS x"))
    try:
        tracked = len(caching._TRACKED)
        again = spark.range(5).selectExpr("id * 3 AS x")
        assert caching.tracked_persist(again) is again
        assert len(caching._TRACKED) == tracked
    finally:
        first.unpersist()
