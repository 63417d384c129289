"""Physical-plan assertions: the scale properties the engine is designed
around, pinned as tests so a regression in plan shape fails loudly.

These matter more than micro-benchmarks at 100 TB: a lost partition filter
or a broadcast that degrades to sort-merge changes cost by orders of
magnitude, invisibly, on small test data.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.sources.domain import materialize_domain

START = datetime(2024, 1, 5)
END = datetime(2024, 1, 12)


@pytest.fixture(autouse=True)
def _drain_operator_caches(spark):
    """Plan tests here count scan nodes and pin exchange shapes; tracked
    persists left by OTHER tests (most of all the 200-query global audit
    in this file) plan-match into later queries and shift those counts.
    Draining after every test makes each plan assertion see a cold cache
    manager; tests that pin cache-hit shapes do both runs inside one
    test, so they are unaffected."""
    yield
    from ambient_sound_analysis_api_spark.operators.caching import (
        release_caches,
    )

    release_caches()


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def domain_root(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("plans_domain"))
    materialize_domain(spark, sf_dir, root)
    return root


def test_scan_prunes_partitions_and_pushes_ts(spark, domain_root):
    df = (
        spark.read.parquet(f"{domain_root}/data")
        .filter(
            (F.col("freq_type") == "broadband")
            & (F.col("delta_t") == 1)
            & (F.col("hydrophone") == "click")
            & (F.col("ts") >= F.lit(START))
            & (F.col("ts") < F.lit(END))
        )
        .select("ts", "value")
    )
    plan = explain_str(df)
    # product/hydrophone predicates must be partition filters, not row filters
    assert "PartitionFilters" in plan
    part_section = plan.split("PartitionFilters")[1].split("PushedFilters")[0]
    assert "freq_type" in part_section and "hydrophone" in part_section
    # the time predicate must reach the parquet reader (row-group pruning)
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert "ts" in pushed and "GreaterThanOrEqual" in pushed
    # projection pruning: only the needed columns are read
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "value" in read_schema and "band_hz" not in read_schema


def test_resample_is_single_shuffle_with_partial_agg(spark, domain_root):
    from ambient_sound_analysis_api_spark.operators.aggregations import (
        resample_mean,
    )

    df = spark.read.parquet(f"{domain_root}/data").filter(
        F.col("freq_type") == "broadband"
    )
    plan = explain_str(resample_mean(df, 300), "simple")
    # exactly one exchange: map-side partial agg, shuffle, final agg
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2
    assert "WholeStageCodegen" in explain_str(resample_mean(df, 300), "codegen")


def test_tpch_q3_broadcasts_dimensions(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import queries

    df = queries()["tpch_q3_topk"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # global top-k compiles to TakeOrderedAndProject, not a full sort
    assert "TakeOrderedAndProject" in plan


def test_asof_join_is_one_shuffle_per_side(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import queries

    df = queries()["asof_latest_order"](spark, sf_dir)
    plan = explain_str(df, "simple")
    # union-sort-window form: no join operator at all, only exchanges
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_topk_has_no_python_udf(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import queries

    df = queries()["emb_cosine_topk"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_minhash_signature_agg_is_codegen(spark, sf_dir):
    from ambient_sound_analysis_api_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(minhash_signatures(docs, 8), "formatted")
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import queries

    df = queries()["range_join_click_error"](spark, sf_dir)
    plan = explain_str(df, "simple")
    # the bucketed rewrite must produce a hash/sort-merge equi join,
    # never the nested-loop a naive BETWEEN forces
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_rollup_is_single_expand_single_shuffle(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import queries

    df = queries()["tpch_rollup_revenue"](spark, sf_dir)
    plan = explain_str(df, "simple")
    # grouping sets compile to one Expand + one agg exchange (plus the
    # broadcast for the dimension and the final presentation sort)
    assert "Expand" in plan
    assert "BroadcastHashJoin" in plan
    agg_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(agg_exchanges) == 1


def test_q17_broadcasts_the_avg_join_back(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import queries

    df = queries()["tpch_q17_small_qty"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exists_compiles_to_semi_join(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import queries

    df = queries()["tpch_q4_exists"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "LeftSemi" in plan


def test_embedding_near_pairs_no_cartesian(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import queries

    df = queries()["dedup_embedding_cosine"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_matches_plain_join(spark, sf_dir):
    from ambient_sound_analysis_api_spark.operators.joins import salted_join

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = o.join(c, ["o_custkey"]).groupBy("c_mktsegment").count()
    salted = salted_join(o, c, ["o_custkey"], salt=4).groupBy("c_mktsegment").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # outer modes would emit `salt` phantom copies of unmatched right rows —
    # they must refuse instead of silently corrupting (ADVICE r1)
    import pytest

    for bad in ("right", "full_outer"):
        with pytest.raises(ValueError):
            salted_join(o, c, ["o_custkey"], how=bad)


def test_events_window_pushes_to_parquet_scan(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import _events

    df = _events(spark, sf_dir, START, END).select("event_id", "ts")
    plan = explain_str(df)
    # window bounds must reach the reader as long comparisons on the raw
    # nanos column — a filter on the converted timestamp cannot push down
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert "GreaterThanOrEqual(ts" in pushed and "LessThan(ts" in pushed


def _physical_nodes(df):
    """Walk the physical plan tree via py4j, descending through the AQE
    wrapper (AdaptiveSparkPlanExec is a leaf node whose real plan hangs
    off ``inputPlan``)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        yield node
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            stack.append(node.inputPlan())
            continue
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


def test_all_registry_queries_avoid_pathological_plans(spark, sf_dir):
    """Global guardrail over every registry query: no cartesian products, no
    unintended nested-loop joins, no Python in the hot path, and no
    UNPARTITIONED WindowExec over a non-allowlisted input (a global window
    serializes the whole input into one task — fine for model-sized
    tables, catastrophic for data-sized ones; the bench tail's
    single-partition warnings must all trace to the annotated allowlist).
    Exemptions are deliberate: 1-row broadcast cross joins (query-vector /
    scalar-plan patterns) and the mm_* operators whose Arrow-batched
    Python IS the operator."""
    from ambient_sound_analysis_api_spark.registry import queries

    # every entry here is a GLOBAL window over a model-sized input, with
    # the size rationale stated — a data-sized global window is a bug
    global_window_ok = {
        # nlist-row IVF cell-centroid ranking (cells ≤ label vocabulary)
        "emb_ivfpq_recall_curve",
        # same nlist-row probe ranking in the incremental serve path
        "emb_ivfpq_incremental",
        "emb_ivfpq_incremental_recall",
        # documented dimension-only global ntile (customer is a dim table
        # here; the scalable fact path is agg_distinct_percentile)
        "win_ntile_balance",
        # per-source count ranking for the Gini readout (rows = distinct
        # sources, a corpus-card vocabulary)
        "pipeline_diversity_metrics",
        # joint click×error hourly spine: calendar-bounded (≤672 rows in
        # the fixed 28-day window), data-size-independent
        "ts_cross_correlation",
        # global row_number over the two 20-row retrieval branch lists
        # (top-k model-sized inputs by construction)
        "retrieval_rrf_fusion",
        # nlist-row probe ranking inside the incremental serve, reused by
        # the rerank gate
        "emb_ivfpq_incremental_recall_gate",
        # cumulative window over the 6dp score VOCABULARY (≤ 10^6+1
        # DECIMAL(10,6) rows after the histogram group-by) — bounded by
        # quantization, not data size
        "eval_quality_auc",
        # same score-vocabulary cumulative pass for the budget cutoff
        "pipeline_token_budget",
        # running CUSUM over the calendar-bounded 5m bucket table
        # (≤2016 rows in the fixed 7-day window)
        "ts_cusum_changepoint",
        # row_number over the TakeOrdered top-200 vocabulary list
        "text_zipf_fit",
        # two score-vocabulary cumulative windows (train + holdout AUC),
        # both bounded by the 6dp quantization like eval_quality_auc
        "eval_quality_holdout",
    }

    one_row_broadcast = {
        "emb_cosine_topk",
        "agg_auto_interval",
        "tpch_q22_idle_rich",
        "text_tfidf_topk",
        "sim_lsh_hyperplane",  # packed plane table: 1-row broadcast join
        "sim_lsh_multiprobe",  # same packed-plane 1-row broadcast, ×2 scans
        "emb_ann_ivf_nprobe",  # 1-row query × nlist-row centroid ranking
        "tpch_q11_important_stock",  # 1-row global-total broadcast (HAVING)
        "text_bigram_lm_score",  # 1-row vocabulary-size broadcast
        "pipeline_skew_report",  # 1-row total/median stats broadcast
        "emb_ivfpq_topk",  # 1-row query × nlist-row centroid ranking
        "emb_ivfpq_residual_topk",  # same 1-row probe stage, residual codes
        # delta-batch × nlist-row centroid broadcast (cell assignment) +
        # the nlist-row probe list broadcast against both scan sides
        "emb_ivfpq_incremental",
        # same, plus the 1-row query broadcast of the exact baseline
        "emb_ivfpq_incremental_recall",
        # same probe/query broadcasts + the shortlist-id broadcast
        # semi-join of the exact refine pass
        "emb_ivfpq_incremental_recall_gate",
        "pipeline_dataset_card",  # 1-row stats × 1-row majority-language
        "sim_hard_negatives",  # bounded query-batch broadcast vs corpus
        "emb_prefix_recall",  # 1-row query-vector broadcast ×3 truncations
        "pipeline_diversity_metrics",  # 1-row stat-card cross joins
        "pipeline_mixture_weights",  # 1-row total/normalizer broadcasts
        "emb_int8_ann_recall",  # 1-row quantized-query broadcast
        # 1-row query/centroid broadcasts + the 3-row nprobe list fanned
        # out by a broadcast theta-join (cell_rank <= nprobe)
        "emb_ivfpq_recall_curve",
        # B-row serving batch × nlist-row centroid table (both
        # model-sized) + the same broadcast nprobe theta-join
        "emb_ivfpq_batch_topk",
        "text_bm25_topk",  # 1-row corpus-stats (N, avgdl) broadcast
        "retrieval_ndcg_mrr",  # same 1-row corpus-stats broadcast, batched
        "text_pmi_collocations",  # 1-row corpus-totals broadcast
        "rec_item_cooccurrence",  # 1-row user-total broadcast
        "pipeline_drift_psi",  # 1-row global-range broadcast
        "ab_test_cuped",  # 1-row global-moments broadcast
        "emb_pca_top_component",  # 1-row n/norm/eigenvalue broadcasts
        "emb_pca_datapass",  # same 1-row norm/eigenvalue broadcasts
        "agg_hourly_corr_matrix",  # tiny hours x type-vocabulary grid fill
        "pipeline_expectations",  # 1-row total × 1-row orphan-count join
        "ts_cross_correlation",  # 1-row joint-mean broadcast (centering)
        # 1-row corpus-stats + 1-row query-vector broadcasts in the two
        # retrieval branches (fusion itself joins two 20-row lists)
        "retrieval_rrf_fusion",
        # same branch broadcasts + each list's 1-row min/max stat
        "retrieval_weighted_fusion",
        "eval_quality_calibration",  # 1-row total-count broadcast
        # both RM3 passes carry bm25_topk's 1-row corpus-stats broadcast
        "retrieval_rm3_expansion",
        # 1-row query-vector broadcast + the 20-row post-filter
        # membership broadcast join
        "emb_ann_filtered",
        # 1-row corpus-total broadcast (cap derivation) ×2: the ranked
        # table and the final cap column
        "emb_ivf_rebalance",
        # 1-row global-mean broadcast (centering) + 1-row changepoint
        # broadcast for the pre/post split
        "ts_cusum_changepoint",
        # 1-row token-total broadcast + 1-row q_cut broadcast predicate
        "pipeline_token_budget",
        # 1-row snapped-query-vector broadcast against the candidate and
        # exact ranking scans of the clustered fixture
        "emb_ivf_clustered_recall_gate",
        # 1-row corpus-total broadcast (cap derivation) ×2 — same shape
        # as emb_ivf_rebalance, on the stale-fit skewed fixture
        "emb_ivf_rebalance_clustered",
        # 1-row stability-flag broadcast onto the 8-row cell readout
        "emb_ivf_rebalance_fixpoint",
        # two 1-row AUC summaries cross-joined into the single readout
        "eval_quality_holdout",
        # 1-row persisted corpus-stats broadcast (N, avgdl) — the same
        # shape text_bm25_topk carries, read from the index store
        "retrieval_bm25_persisted_topk",
        # both RM3 passes carry that 1-row stats broadcast
        "retrieval_rm3_persisted",
        # 1-row query-vector broadcast in the probe, ADC and exact
        # branches over the clustered fixture (emb_ivfpq_topk shapes)
        "emb_ivfpq_clustered_adc_audit",
        # same fixture/probe/exact 1-row broadcasts + the cell-keyed ADC
        # LUT map (nprobe × m × k doubles, model-sized by construction)
        "emb_ivfpq_residual_adc_audit",
        # 1-row merged corpus-stats broadcast (N, avgdl) from the
        # segmented store's version dir — the text_bm25_topk shape
        "retrieval_bm25_incremental",
        # 1-row norm/λ broadcasts per power iteration and the 1-row λ₁
        # broadcast of the final ratio projection; the matrix itself is
        # d²-row model-sized and checkpointed per deflation round
        "emb_pca_topk_spectrum",
        # same 1-row norm/λ broadcast shapes over the clustered fixture
        "emb_pca_spectrum_clustered",
        # 1-row merged corpus-stats broadcast from the compacted
        # version dir — identical shape to retrieval_bm25_incremental
        "retrieval_bm25_compacted",
        # same 1-row merged-stats broadcast; the tombstone anti-join is
        # a takedown-sized BroadcastHashJoin, not the BNLJ (verified in
        # the committed plan) — round-14 delete-verb serves
        "retrieval_bm25_delete",
        "retrieval_bm25_delete_compacted",
        # 1-row query-vector broadcast against the nlist-row centroid
        # ranking, once per swept code budget — the recall-curve shape
        # over the clustered fixture (round-14 audit entry)
        "emb_ivfpq_code_budget_curve",
    }
    python_ok = {
        "mm_binary_meta",
        "mm_frame_sample",
        "mm_audio_psd_peak",
        "dedup_embedding_cosine_arrow",  # the Arrow kernel IS the operator
        # Karp-Rabin fold: no Catalyst form avoids an O(n·L) interpreted
        # per-character fold, so the Arrow kernel IS the operator
        "text_rolling_fingerprint",
    }
    problems = []
    for name, fn in queries().items():
        df = fn(spark, sf_dir)
        plan = explain_str(df, "simple")
        if "CartesianProduct" in plan:
            problems.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in one_row_broadcast:
            problems.append(f"{name}: BroadcastNestedLoopJoin")
        if name not in python_ok and (
            "BatchEvalPython" in plan or "ArrowEvalPython" in plan
        ):
            problems.append(f"{name}: Python in plan")
        if name not in global_window_ok:
            for node in _physical_nodes(df):
                cls = node.getClass().getSimpleName()
                if cls in (
                    "WindowExec",
                    "WindowGroupLimitExec",
                ) and node.partitionSpec().isEmpty():
                    problems.append(f"{name}: unpartitioned {cls}")
                    break
    assert not problems, problems


def test_pq_encode_is_shuffle_free_codegen(spark):
    from ambient_sound_analysis_api_spark.operators.pq import pq_encode

    emb = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    books = [[[0.0], [2.0]], [[1.0], [3.0]]]
    plan = explain_str(pq_encode(emb, books), "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_morton_key_is_shuffle_free(spark):
    from ambient_sound_analysis_api_spark.functions.zorder import morton_code

    df = spark.range(10).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    plan = explain_str(
        df.select(morton_code(F.col("a"), F.col("b"), 8)), "simple"
    )
    assert "Exchange" not in plan


def test_user_histories_single_hash_exchange(spark, sf_dir):
    from ambient_sound_analysis_api_spark.registry import (
        q_pipeline_user_histories,
    )

    plan = explain_str(q_pipeline_user_histories(spark, sf_dir), "simple")
    hash_ex = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    # the window, its downstream aggregation, and the join all reuse one
    # user_id partitioning; the stats aggregation's second source scan pays
    # the only other hash exchange (rangepartitioning = presentation sort)
    assert len(hash_ex) <= 2
    assert "CartesianProduct" not in plan


def test_aqe_skew_join_split_engages_on_hot_key(spark):
    """End-to-end proof the engine SURVIVES a skewed shuffle join, not just
    diagnoses it (pipeline_skew_report): with one key owning half the rows,
    AQE's runtime skew-join split must engage — the final adaptive
    sort-merge join is marked skew=true and the hot partition is split
    across multiple tasks. Thresholds are scaled down so local-mode data
    trips the same machinery a 100 TB hot key would (the detection rule —
    partition > max(threshold, factor x median) — is size-relative)."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        # enough shuffle partitions for a median to split against, whatever
        # the core count the session's default was derived from
        conf.set("spark.sql.shuffle.partitions", "8")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        # force a sort-merge join: skew split applies to shuffle joins
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

        n = 400_000
        left = spark.range(n).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.col("id") % 5000)
            .alias("key"),
            (F.col("id") * 7).alias("payload"),
        )
        right = spark.range(5000).select(
            F.col("id").alias("key"), (F.col("id") % 97).alias("dim")
        )
        joined = left.join(right, "key").groupBy().agg(
            F.count("*").alias("n"), F.sum("dim").alias("s")
        )
        [row] = joined.collect()
        assert row["n"] == n  # every left row matched exactly once

        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, (
            "AQE skew-join split did not engage:\n" + final_plan[:2000]
        )
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_salted_join_shuffles_on_salted_key(spark):
    """salted_join's whole point is that the exchange hashes on
    (key, salt), spreading a hot key over `salt` reducers — pin that the
    partitioning expression actually carries the salt column."""
    from ambient_sound_analysis_api_spark.operators.joins import salted_join

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # small sides would broadcast (no shuffle to salt at all); force the
        # shuffle join salting exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # key must be a real (non-constant) column: Catalyst folds literals
        # out of hashpartitioning entirely
        left = spark.range(1000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.col("id") % 10)
            .alias("key"),
            F.col("id").alias("v"),
        )
        right = spark.range(10).select(
            F.col("id").alias("key"), F.lit(1).alias("w")
        )
        plan = explain_str(salted_join(left, right, on=["key"], salt=8))
        assert "_salt" in plan
        # the shuffle key includes the salt: hashpartitioning(key, _salt)
        import re

        m = re.findall(r"hashpartitioning\(key\S*, _salt\S*", plan)
        assert m, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_ivfpq_batch_single_candidates_scan(spark, sf_dir):
    """The batched IVF-PQ plan must scan the fact table a CONSTANT number
    of times (once for the centroid table, once for candidates) no matter
    how many queries or probe points the batch carries — per-query rescans
    would turn serving cost into O(B · corpus)."""
    import re

    from ambient_sound_analysis_api_spark.operators.pq import (
        ivfpq_batch_topk,
        pq_fit,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_fit(emb, m=4, k=8, n_iter=1)

    def n_scans(n_queries, nprobes):
        qb = (
            emb.orderBy("vec_id")
            .limit(n_queries)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qvec"),
            )
        )
        df = ivfpq_batch_topk(emb, books, qb, k=3, nprobes=nprobes)
        plan = explain_str(df, "simple")
        return len(re.findall(r"Scan parquet|FileScan parquet", plan))

    base = n_scans(1, (1,))
    assert base == 2  # centroid build + candidates, nothing else
    assert n_scans(3, (1, 2)) == base  # invariant in B and |nprobes|

    # and the serving windows are partitioned: no unpartitioned WindowExec
    qb3 = (
        emb.orderBy("vec_id")
        .limit(3)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
        )
    )
    df3 = ivfpq_batch_topk(emb, books, qb3, k=3, nprobes=(1, 2))
    for node in _physical_nodes(df3):
        cls = node.getClass().getSimpleName()
        assert not (
            cls in ("WindowExec", "WindowGroupLimitExec")
            and node.partitionSpec().isEmpty()
        ), "unpartitioned window in batched ANN plan"


def test_logit_select_serve_is_single_codegen_scan(spark, sf_dir):
    """The learned-quality-gate APPLY step must serve from the memoized
    model as ONE projection scan of documents — a fit that sneaks back
    into the serving plan would re-run 5 aggregation passes per query."""
    import re

    from ambient_sound_analysis_api_spark.registry import queries

    fn = queries()["pipeline_logit_select"]
    fn(spark, sf_dir)  # populate the fit memo
    df = fn(spark, sf_dir)  # served from the memo
    plan = explain_str(df, "simple")
    assert len(re.findall(r"Scan parquet|FileScan parquet", plan)) == 1
    # no Python, no joins: pure Catalyst projection + the output sort
    assert "Python" not in plan
    assert "Join" not in plan


def test_ivfpq_incremental_serve_has_no_fit_stages(spark, sf_dir):
    """The incremental path must serve from the MEMOIZED model: with the
    codebook memo populated, invoking the query runs zero k-means jobs
    (memo size stable, no refit) and the plan is the bounded serve shape
    — shared cached centroid build, no Python, no cartesian product."""
    import os

    from ambient_sound_analysis_api_spark import registry

    fn = registry.queries()["emb_ivfpq_incremental"]
    fn(spark, sf_dir)  # populates the codebook store on first use
    key = (os.path.join(sf_dir, "embeddings.parquet"), "pq", 4, 8, 2)
    entry = registry._ARTIFACTS[key]
    df = fn(spark, sf_dir)
    assert registry._ARTIFACTS[key] is entry  # served, not refit
    plan = explain_str(df, "simple")
    # the nlist-row centroid table is built ONCE and served from cache to
    # all three consumers (probe ranking + both probe broadcasts / the
    # delta assignment) — textual FileScan counts lie here because a
    # cached relation's description still contains its scan node
    assert plan.count("InMemoryTableScan") >= 2
    assert "EvalPython" not in plan and "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k without a global sort


def test_clustered_pq_fits_do_not_evict_each_other(
    spark, sf_dir, monkeypatch
):
    """The raw and residual PQ fits of the clustered fixture are two
    kinds on one table: building either audit must keep the other's
    codebooks, so building both a second time runs no ``pq_fit``. Build
    only, no action."""
    from ambient_sound_analysis_api_spark import registry
    from ambient_sound_analysis_api_spark.operators import pq

    calls = []
    real_fit = pq.pq_fit

    def counting_fit(*args, **kwargs):
        calls.append(kwargs)
        return real_fit(*args, **kwargs)

    monkeypatch.setattr(pq, "pq_fit", counting_fit)
    q = registry.queries()
    names = ("emb_ivfpq_clustered_adc_audit", "emb_ivfpq_residual_adc_audit")
    for name in names:
        q[name](spark, sf_dir)
    n_first = len(calls)
    for name in names:
        q[name](spark, sf_dir)
    assert len(calls) == n_first


def test_ivfpq_persisted_serve_prunes_partitions_and_columns(spark, sf_dir):
    """Serving from the persisted cell-partitioned code index must
    realize BOTH IVF-PQ savings at the scan: the cell probe arrives as a
    PartitionFilter (nprobe directories opened, not nlist) and the read
    schema carries only id + codes — never the vector column."""
    from ambient_sound_analysis_api_spark.registry import queries

    fn = queries()["emb_ivfpq_persisted_topk"]
    fn(spark, sf_dir)  # build + memoize the index store
    df = fn(spark, sf_dir)  # served from the persisted index
    plan = explain_str(df, "formatted")
    # the scan really reads a published SEGMENT of the stored index
    assert "ivfpq_store_" in plan and "/segs/seg-" in plan
    # the index scan prunes on cell and reads no vector column
    assert "cell IN" in plan or "cell#" in plan.split("PartitionFilters")[1].splitlines()[0]
    read_schemas = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "code_0" in ln
    ]
    assert read_schemas and all("embedding" not in ln for ln in read_schemas)


def test_bm25_persisted_serve_skips_tokenize_and_pushes_terms(spark, sf_dir):
    """Serving BM25 from the persisted lexical index must never touch
    the corpus text column: the plan reads the published postings /
    termstats / doclens / stats tables only (no documents.parquet scan,
    no regexp tokenize, no explode) and the query's term predicate is
    pushed into the postings scan so the range-sorted files skip at the
    parquet footer."""
    from ambient_sound_analysis_api_spark.registry import queries

    fn = queries()["retrieval_bm25_persisted_topk"]
    fn(spark, sf_dir)  # build + publish the index store
    df = fn(spark, sf_dir)  # served from the persisted version
    plan = explain_str(df, "formatted")
    assert "bm25_store_" in plan and "/v-" in plan
    assert "documents.parquet" not in plan
    assert "regexp" not in plan.lower() and "Generate" not in plan
    # the postings scan carries the In(term, ...) predicate
    assert any(
        "term" in ln and ("In(" in ln or "in(" in ln) for ln in
        (ln2 for ln2 in plan.splitlines() if "PushedFilters" in ln2)
    )
    assert "TakeOrderedAndProject" in plan


def test_residual_persisted_serve_prunes_partitions_and_columns(
    spark, sf_dir
):
    """The residual-coded persisted index realizes the same two scan
    savings as the raw-coded one: cell probe as a PartitionFilter and a
    codes-only ReadSchema — plus its serve plan carries the cell-keyed
    LUT as a literal map (no join for the per-cell query residual)."""
    from ambient_sound_analysis_api_spark.registry import queries

    fn = queries()["emb_ivfpq_residual_persisted_topk"]
    fn(spark, sf_dir)  # build + memoize the index store
    df = fn(spark, sf_dir)  # served from the persisted index
    plan = explain_str(df, "formatted")
    assert "respq_idx_" in plan and "/segs/seg-" in plan
    assert (
        "cell IN" in plan
        or "cell#" in plan.split("PartitionFilters")[1].splitlines()[0]
    )
    read_schemas = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "code_0" in ln
    ]
    assert read_schemas and all("embedding" not in ln for ln in read_schemas)
    assert "Join" not in plan  # LUT ships as a literal map, not a join


def test_tombstone_serve_plans_stay_pruned_and_index_only(spark, sf_dir):
    """The delete-lifecycle serve paths keep every scan discipline of
    their tombstone-free twins: the ANN serve still prunes on cell with
    a codes-only ReadSchema (the tombstone filter is ONE broadcast
    anti-join of a takedown-sized table), and the lexical serve still
    never reads text / tokenizes — df/avgdl corrections happened at
    delete-publish time, not read time."""
    from ambient_sound_analysis_api_spark.registry import queries

    q = queries()

    fn = q["emb_ivfpq_delete"]
    fn(spark, sf_dir)  # build + memoize
    plan = explain_str(fn(spark, sf_dir), "formatted")
    assert "ivfdel_" in plan and "/segs/" in plan
    assert (
        "cell IN" in plan
        or "cell#" in plan.split("PartitionFilters")[1].splitlines()[0]
    )
    read_schemas = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "code_0" in ln
    ]
    assert read_schemas and all("embedding" not in ln for ln in read_schemas)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    fn = q["retrieval_bm25_delete"]
    fn(spark, sf_dir)
    plan = explain_str(fn(spark, sf_dir), "formatted")
    assert "bm25del_" in plan and "/segs/" in plan
    assert "documents.parquet" not in plan
    assert "regexp" not in plan.lower() and "Generate" not in plan
    assert "LeftAnti" in plan

    # compacted twins: tombstones folded out — no anti-join survives
    for name, marker in (
        ("emb_ivfpq_delete_compacted", "ivfdelc_"),
        ("retrieval_bm25_delete_compacted", "bm25delc_"),
    ):
        fn = q[name]
        fn(spark, sf_dir)
        plan = explain_str(fn(spark, sf_dir), "formatted")
        assert marker in plan
        assert "LeftAnti" not in plan
