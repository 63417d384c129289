"""Unit tests for the round-11 second-wave operators: filter evaluation
(confusion/AUC/calibration), CUSUM changepoint, token-budget curation,
embedding centroid drift, Zipf fit, mutual-kNN, last-touch attribution."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# evalmetrics


def _labeled(spark, rows):
    return spark.createDataFrame(rows, "s double, y int")


def test_confusion_sweep_counts_and_ratios(spark):
    from ambient_sound_analysis_api_spark.operators.evalmetrics import (
        confusion_sweep,
    )

    df = _labeled(
        spark,
        [(0.9, 1), (0.8, 1), (0.7, 0), (0.2, 1), (0.1, 0), (0.05, 0)],
    )
    out = confusion_sweep(
        df, F.col("s"), F.col("y") == 1, thresholds=[0.5]
    ).collect()
    assert len(out) == 1
    r = out[0]
    # pred+ = {0.9, 0.8, 0.7}; positives = {0.9, 0.8, 0.2}
    assert (r.tp, r.fp, r.fn, r.tn) == (2, 1, 1, 2)
    assert r.prec == pytest.approx(2 / 3, abs=1e-6)
    assert r.rec == pytest.approx(2 / 3, abs=1e-6)
    assert r.f1 == pytest.approx(2 / 3, abs=1e-6)


def test_confusion_sweep_null_ratios_on_empty_cells(spark):
    from ambient_sound_analysis_api_spark.operators.evalmetrics import (
        confusion_sweep,
    )

    # no predicted positives at t=0.9 → precision NULL, recall 0
    df = _labeled(spark, [(0.1, 1), (0.2, 0)])
    r = confusion_sweep(df, F.col("s"), F.col("y") == 1, thresholds=[0.9]).collect()[0]
    assert r.tp == 0 and r.fp == 0
    assert r.prec is None
    assert r.rec == 0.0


def test_binary_auc_perfect_and_midrank(spark):
    from ambient_sound_analysis_api_spark.operators.evalmetrics import binary_auc

    # perfectly separated → AUC 1.0
    perfect = _labeled(spark, [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)])
    r = binary_auc(perfect, F.col("s"), F.col("y") == 1).collect()[0]
    assert r.auc == 1.0 and r.gini == 1.0
    assert (r.n_pos, r.n_neg) == (2, 2)

    # one tied score class (0.5 holds one pos + one neg) → midrank:
    # pairs: (pos .5 vs neg .5)=0.5, (pos .5 vs neg .1)=1 → AUC=(1+0.5)/2=0.75
    tied = _labeled(spark, [(0.5, 1), (0.5, 0), (0.1, 0)])
    r2 = binary_auc(tied, F.col("s"), F.col("y") == 1).collect()[0]
    assert r2.auc == pytest.approx(0.75, abs=1e-6)
    assert r2.n_scores == 2


def test_binary_auc_random_scores_half(spark):
    from ambient_sound_analysis_api_spark.operators.evalmetrics import binary_auc

    # label independent of a constant score → AUC exactly 0.5 by midrank
    const = _labeled(spark, [(0.4, 1), (0.4, 0), (0.4, 1), (0.4, 0)])
    r = binary_auc(const, F.col("s"), F.col("y") == 1).collect()[0]
    assert r.auc == pytest.approx(0.5, abs=1e-6)


def test_calibration_bins_weights_and_ece(spark):
    from ambient_sound_analysis_api_spark.operators.evalmetrics import (
        calibration_bins,
    )

    df = _labeled(
        spark,
        [(0.05, 0), (0.15, 0), (0.15, 1), (0.95, 1), (1.0, 1)],
    )
    rows = calibration_bins(df, F.col("s"), F.col("y") == 1).collect()
    by_bin = {r.bin: r for r in rows}
    # score 1.0 clamps into bin 9
    assert set(by_bin) == {0, 1, 9}
    assert by_bin[9].n == 2 and by_bin[9].frac_pos == 1.0
    assert by_bin[1].frac_pos == pytest.approx(0.5, abs=1e-6)
    assert sum(r.weight for r in rows) == pytest.approx(1.0, abs=1e-5)
    for r in rows:
        assert r.ece_term == pytest.approx(r.gap * r.weight, abs=2e-6)


# ---------------------------------------------------------------------------
# CUSUM changepoint


def test_cusum_changepoint_detects_step(spark):
    from datetime import datetime, timedelta

    from ambient_sound_analysis_api_spark.operators.timeseries import (
        cusum_changepoint,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        (t0 + timedelta(minutes=5 * i), 1.0 if i < 10 else 5.0)
        for i in range(20)
    ]
    buckets = spark.createDataFrame(rows, "bucket_ts timestamp, xb double")
    r = cusum_changepoint(buckets, ts_col="bucket_ts", val_col="xb").collect()[0]
    # |cusum| peaks at the LAST pre-shift bucket (i=9)
    assert r.cp_ts == "2024-01-01T00:45:00"
    assert r.n_pre == 10 and r.n_post == 10
    assert r.mean_pre == pytest.approx(1.0, abs=1e-6)
    assert r.mean_post == pytest.approx(5.0, abs=1e-6)
    assert r.shift == pytest.approx(4.0, abs=1e-6)
    # peak magnitude = 10 buckets × |1 − 3| = 20
    assert r.max_abs_cusum == pytest.approx(20.0, abs=1e-6)


# ---------------------------------------------------------------------------
# token budget


def test_token_budget_whole_class_granularity(spark):
    from ambient_sound_analysis_api_spark.operators.sampling import (
        token_budget_select,
    )

    df = spark.createDataFrame(
        [
            ("a", 0.9, 100),
            ("a", 0.8, 100),
            ("b", 0.7, 100),
            ("b", 0.7, 100),
            ("b", 0.1, 100),
        ],
        "source string, q double, nt int",
    )
    # budget = 0.5 × 500 = 250 → q=0.9 (100) + q=0.8 (200) fit; the 0.7
    # class (2 docs, cum 400) does not → cut at 0.8
    out = token_budget_select(
        df, F.col("q"), F.col("nt"), budget_frac=0.5
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.source == "a" and r.n_docs == 2 and r.n_tokens == 200
    assert r.q_cut == pytest.approx(0.8, abs=1e-6)

    # raising the budget to 0.8 (=400) admits the whole 0.7 class
    out2 = token_budget_select(
        df, F.col("q"), F.col("nt"), budget_frac=0.8
    ).collect()
    assert {(r.source, r.n_docs) for r in out2} == {("a", 2), ("b", 2)}

    with pytest.raises(ValueError):
        token_budget_select(df, F.col("q"), F.col("nt"), budget_frac=0.0)


# ---------------------------------------------------------------------------
# centroid drift


def test_centroid_drift_exact_deltas(spark):
    from ambient_sound_analysis_api_spark.operators.similarity import (
        centroid_drift,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (2, [3.0, 0.0]),
            (1, [1.0, 10.0]),
            (3, [3.0, 30.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    rows = centroid_drift(df, F.col("vec_id") % 2 == 0).collect()
    d = {r.dim: r for r in rows}
    assert d[0].mean_a == 2.0 and d[0].mean_b == 2.0 and d[0].delta == 0.0
    assert d[1].mean_a == 0.0 and d[1].mean_b == 20.0
    assert d[1].delta == 20.0 and d[1].abs_delta == 20.0


# ---------------------------------------------------------------------------
# Zipf fit


def test_zipf_fit_two_point_exact_line(spark):
    from ambient_sound_analysis_api_spark.operators.lm import zipf_fit

    # freq(a)=4, freq(b)=2 at ranks 1,2: ln-ln slope exactly
    # (ln2 − ln4)/(ln2 − ln1) = −1, intercept = mean adjustment = ln4
    docs = spark.createDataFrame(
        [("a a a a b b",)], "text string"
    )
    r = zipf_fit(docs).collect()[0]
    assert r.n_ranks == 2 and r.top_freq == 4
    assert r.slope == pytest.approx(-1.0, abs=1e-6)
    assert r.intercept == pytest.approx(math.log(4.0), abs=1e-6)
    assert r.r2 == pytest.approx(1.0, abs=1e-6)


# ---------------------------------------------------------------------------
# mutual kNN


def test_mutual_knn_filters_hub_edges(spark):
    from ambient_sound_analysis_api_spark.operators.similarity import mutual_knn

    # a and b are reciprocal nearest; c's nearest is a, but a's top-1 is b
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.99, 0.14], 0),
            (3, [0.0, 1.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = mutual_knn(df, k=1, max_block_size=None).collect()
    assert [(r.src_id, r.nbr_id) for r in rows] == [(1, 2)]
    assert rows[0].rank_ab == 1 and rows[0].rank_ba == 1

    # with k=2 every pair in a 3-block is mutual: 3 undirected edges
    rows2 = mutual_knn(df, k=2, max_block_size=None).collect()
    assert len(rows2) == 3


# ---------------------------------------------------------------------------
# attribution


def test_last_touch_attribution_credits_and_direct(spark):
    from datetime import datetime

    from ambient_sound_analysis_api_spark.operators.aggregations import (
        last_touch_attribution,
    )

    t = datetime(2024, 1, 1)

    def ev(eid, uid, typ, minute):
        from datetime import timedelta

        return (eid, t + timedelta(minutes=minute), uid, typ)

    df = spark.createDataFrame(
        [
            ev(1, 1, "view", 0),
            ev(2, 1, "purchase", 1),     # ← view
            ev(3, 1, "click", 2),
            ev(4, 1, "purchase", 3),     # ← click
            ev(5, 2, "purchase", 0),     # ← direct (no preceding)
            ev(6, 3, "purchase", 1),     # ← direct
            ev(7, 3, "view", 2),         # after the purchase: no credit
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    rows = last_touch_attribution(df).collect()
    got = {r.touch_type: r.n_conversions for r in rows}
    assert got == {"view": 1, "click": 1, "direct": 2}


def test_last_touch_attribution_tie_breaks_on_event_id(spark):
    from datetime import datetime

    from ambient_sound_analysis_api_spark.operators.aggregations import (
        last_touch_attribution,
    )

    t = datetime(2024, 1, 1)
    # same-timestamp view(id=1) then purchase(id=2): the view PRECEDES by
    # id order, deterministically
    df = spark.createDataFrame(
        [(1, t, 1, "view"), (2, t, 1, "purchase")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    rows = last_touch_attribution(df).collect()
    assert {r.touch_type: r.n_conversions for r in rows} == {"view": 1}


# ---------------------------------------------------------------------------
# k-anonymity


def test_k_anonymity_report_counts(spark):
    from ambient_sound_analysis_api_spark.operators.pii import (
        k_anonymity_report,
    )

    df = spark.createDataFrame(
        [("en", "a")] * 5 + [("en", "b")] * 2 + [("de", "c")] * 3,
        "lang string, source string",
    )
    rows = k_anonymity_report(df, ["source"], k=5, by="lang").collect()
    by_lang = {r.lang: r for r in rows}
    en = by_lang["en"]
    assert (en.n_groups, en.n_small_groups) == (2, 1)
    assert (en.n_rows, en.n_suppressed) == (7, 2)
    assert en.suppression_rate == pytest.approx(2 / 7, abs=1e-6)
    de = by_lang["de"]
    assert de.n_suppressed == 3 and de.suppression_rate == 1.0

    with pytest.raises(ValueError):
        k_anonymity_report(df, ["source"], k=0)


def test_k_anonymity_global_row(spark):
    from ambient_sound_analysis_api_spark.operators.pii import (
        k_anonymity_report,
    )

    df = spark.createDataFrame(
        [("en", "a")] * 6 + [("de", "b")] * 1,
        "lang string, source string",
    )
    r = k_anonymity_report(df, ["lang", "source"], k=2).collect()[0]
    assert r.n_groups == 2 and r.n_small_groups == 1
    assert r.n_suppressed == 1


# ---------------------------------------------------------------------------
# cell balance


def test_cell_balance_summary(spark):
    from ambient_sound_analysis_api_spark.operators.diagnostics import (
        cell_balance,
    )

    df = spark.createDataFrame(
        [(i, 0) for i in range(8)] + [(100 + i, 1) for i in range(2)],
        "vec_id long, cluster int",
    )
    r = cell_balance(df).collect()[0]
    assert (r.n_cells, r.n_vecs, r.max_cell, r.min_cell) == (2, 10, 8, 2)
    # mean non-empty cell = 5 → 8/5
    assert r.max_over_mean == pytest.approx(1.6, abs=1e-6)
    assert r.top_share == pytest.approx(0.8, abs=1e-6)


# ---------------------------------------------------------------------------
# seasonal strength


def test_seasonal_strength_flat_vs_weekly(spark, sf_dir):
    """On the shared testdata the scores must be finite, in [0,1], and
    keyed one row per event_type (sanity of the derived aggregate; exact
    values are pinned by the DuckDB oracle)."""
    from ambient_sound_analysis_api_spark.registry import queries

    rows = queries()["ts_seasonal_strength"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 <= r.f_seasonal <= 1.0
        assert 0.0 <= r.f_trend <= 1.0
        assert r.var_residual >= 0.0
        assert r.n_days > 0


# ---------------------------------------------------------------------------
# RM3 expansion


def test_rm3_expansion_deterministic_and_disjoint(spark, sf_dir):
    from ambient_sound_analysis_api_spark.functions.text import STOPWORDS
    from ambient_sound_analysis_api_spark.operators.retrieval import (
        rm3_expansion_terms,
    )
    from ambient_sound_analysis_api_spark.registry import _table

    docs = _table(spark, sf_dir, "documents")
    seed = ["vector", "hash", "merge"]
    e1 = rm3_expansion_terms(docs, seed, fb_k=10, n_expand=3)
    e2 = rm3_expansion_terms(docs, seed, fb_k=10, n_expand=3)
    assert e1 == e2 and len(e1) == 3
    assert not set(e1) & set(seed)
    assert not set(e1) & set(STOPWORDS)
    assert all(len(t) >= 4 for t in e1)


def test_rm3_second_pass_scores_the_expanded_bag(spark, sf_dir):
    """The second pass must genuinely score seed ∪ expansion: (a) some
    document hits MORE terms than the seed bag contains — impossible
    under seed-only scoring, whose n_terms_hit is capped at len(seed) —
    and (b) expansion admits documents the seed-only top-20 missed."""
    from ambient_sound_analysis_api_spark.operators.retrieval import (
        bm25_rm3_topk, bm25_topk,
    )
    from ambient_sound_analysis_api_spark.registry import _table

    docs = _table(spark, sf_dir, "documents")
    seed = ["vector", "hash", "merge"]
    base = {r.doc_id for r in bm25_topk(docs, seed, k=20).collect()}
    rm3 = bm25_rm3_topk(docs, seed, k=20, fb_k=10, n_expand=3).collect()
    assert len(rm3) == 20
    assert max(r.n_terms_hit for r in rm3) > len(seed)
    assert {r.doc_id for r in rm3} - base


# ---------------------------------------------------------------------------
# filtered ANN


def test_filtered_topk_pre_vs_post(spark):
    from ambient_sound_analysis_api_spark.operators.caching import (
        release_caches,
    )
    from ambient_sound_analysis_api_spark.operators.similarity import (
        filtered_topk,
    )

    # query = [1,0]; even ids point near the query, odd ids away — but
    # the single best vector is ODD, so a post-filter top-2 cut loses it
    rows = [
        (0, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),   # keep (even), rank 2 globally
        (4, [0.8, 0.3], 0),   # keep, lower
        (1, [1.0, 0.01], 1),  # global rank 1, filtered out
        (3, [0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    try:
        out = filtered_topk(
            df, query_id=0, predicate=F.col("label") % 2 == 0, k=2, post_k=2
        ).collect()
        assert [r.vec_id for r in out] == [2, 4]
        # global top-2 = {1, 2}; after filter only 2 survives → 4 missed
        flags = {r.vec_id: r.in_postfilter for r in out}
        assert flags[2] is True and flags[4] is False
    finally:
        release_caches()


def test_evalmetrics_input_guards(spark):
    from ambient_sound_analysis_api_spark.operators.evalmetrics import (
        calibration_bins,
        confusion_sweep,
    )

    df = _labeled(spark, [(0.5, 1)])
    with pytest.raises(ValueError):
        confusion_sweep(df, F.col("s"), F.col("y") == 1, thresholds=[])
    with pytest.raises(ValueError):
        calibration_bins(df, F.col("s"), F.col("y") == 1, n_bins=0)


def test_calibration_clamps_out_of_domain_scores(spark):
    from ambient_sound_analysis_api_spark.operators.evalmetrics import (
        calibration_bins,
    )

    df = _labeled(spark, [(-0.2, 0), (0.5, 1), (1.3, 1)])
    rows = calibration_bins(df, F.col("s"), F.col("y") == 1).collect()
    bins = {r.bin for r in rows}
    assert bins == {0, 5, 9}  # edges clamp, nothing negative/overflow


def test_fusion_rejects_empty_inputs():
    import pytest as _pytest

    from ambient_sound_analysis_api_spark.operators.retrieval import (
        rrf_fuse, weighted_score_fuse,
    )

    with _pytest.raises(ValueError):
        rrf_fuse({})
    with _pytest.raises(ValueError):
        weighted_score_fuse({})


def test_incremental_topk_new_version_wins_on_id_overlap(spark):
    """A delta batch re-submitting an existing id must contribute ONE
    row (the new vector), not two conflicting candidates."""
    from ambient_sound_analysis_api_spark.operators.pq import (
        ivfpq_incremental_rerank_topk, ivfpq_incremental_topk, pq_fit,
    )

    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0, 0.0], 0),
            (2, [1.0, 1.0, 1.0, 1.0], 0),
            (3, [2.0, 2.0, 2.0, 2.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    books = pq_fit(emb, m=2, k=2, n_iter=1)
    # id 2 re-submitted with a NEW vector
    new = spark.createDataFrame(
        [(2, [9.0, 9.0, 9.0, 9.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    out = ivfpq_incremental_topk(
        emb, new, books, [0.0, 0.0, 0.0, 0.0], query_id=1, k=10, nprobe=1
    ).collect()
    ids = [r.vec_id for r in out]
    assert ids.count(2) == 1
    assert {r.src for r in out if r.vec_id == 2} == {"new"}

    rr = ivfpq_incremental_rerank_topk(
        emb, new, books, [0.0, 0.0, 0.0, 0.0], query_id=1,
        k=10, nprobe=1, shortlist=10,
    ).collect()
    rids = [r.vec_id for r in rr]
    assert rids.count(2) == 1


# ---------------------------------------------------------------------------
# IVF rebalance


def test_rebalance_overflow_spills_to_second_nearest(spark):
    from ambient_sound_analysis_api_spark.operators.caching import (
        release_caches,
    )
    from ambient_sound_analysis_api_spark.operators.clustering import (
        rebalance_overflow,
    )

    # 6 vectors near centroid A(0,0), 1 near B(10,0); k=2, cap_factor
    # 1.0 → cap = ceil(7/2) = 4: A keeps its 4 closest, spills 2 to B
    rows = [(i, [float(i) * 0.1, 0.0]) for i in range(6)] + [(9, [10.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    try:
        out = rebalance_overflow(
            df, [[0.0, 0.0], [10.0, 0.0]], cap_factor=1.0
        ).collect()
        by = {r.cell: r for r in out}
        assert by[0].n_primary == 6 and by[0].n_out == 2
        assert by[0].n_final == 4
        assert by[1].n_primary == 1 and by[1].n_in == 2 and by[1].n_final == 3
        assert by[0].cap == 4
        # the SPILLED members are the two FURTHEST from A (ids 4, 5)
    finally:
        release_caches()


def test_rebalance_overflow_noop_under_capacity(spark):
    from ambient_sound_analysis_api_spark.operators.caching import (
        release_caches,
    )
    from ambient_sound_analysis_api_spark.operators.clustering import (
        rebalance_overflow,
    )

    rows = [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [10.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    try:
        out = rebalance_overflow(
            df, [[0.0, 0.0], [10.0, 0.0]], cap_factor=2.0
        ).collect()
        assert all(r.n_in == 0 and r.n_out == 0 for r in out)
        assert {r.cell: r.n_final for r in out} == {0: 2, 1: 1}
    finally:
        release_caches()

    with pytest.raises(ValueError):
        rebalance_overflow(df, [[0.0, 0.0]])


# ---------------------------------------------------------------------------
# RAKE


def test_rake_scores_multiword_phrases_above_singletons(spark):
    from ambient_sound_analysis_api_spark.operators.caching import (
        release_caches,
    )
    from ambient_sound_analysis_api_spark.operators.lm import rake_keyphrases

    # "deep neural nets" appears twice as a stopword-bounded run; "cats"
    # appears alone. RAKE must score the 3-word phrase higher (degree
    # accumulates within runs) and break phrases at stopwords.
    docs = spark.createDataFrame(
        [
            (1, "deep neural nets in the deep neural nets"),
            (2, "cats and cats"),
        ],
        "doc_id long, text string",
    )
    try:
        rows = rake_keyphrases(docs, top_n=10).collect()
        by = {r.phrase: r for r in rows}
        assert "deep neural nets" in by and by["deep neural nets"].n_occurrences == 2
        assert "cats" in by and by["cats"].n_occurrences == 2
        assert by["deep neural nets"].score > by["cats"].score
        # stopwords never appear inside any phrase
        assert all(
            w not in ("in", "the", "and")
            for r in rows for w in r.phrase.split(" ")
        )
    finally:
        release_caches()


def test_rake_drops_long_runs(spark):
    from ambient_sound_analysis_api_spark.operators.caching import (
        release_caches,
    )
    from ambient_sound_analysis_api_spark.operators.lm import rake_keyphrases

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    try:
        rows = rake_keyphrases(docs, top_n=10, max_words=3).collect()
        assert rows == []  # the single 5-word run exceeds max_words
    finally:
        release_caches()
