"""Benchmark: time registry queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Usage:
  python bench.py [--audit]             headline set (+ the AUDIT set)
  python bench.py [--audit] QUERY ...   build/plan/exec table for QUERY ...
  python bench.py --scale [K] [--out PATH] [QUERY ...]
                                        1x vs Kx wall ratios (SCALE_SET)

Every mode times a query with ``time_phases``: build, plan and a noop-sink
write, best of 2 by total. The headline mode prints the split on stderr,
writes it to logs/bench_full.json and ends with ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

The headline set covers every execution shape in the engine: pruned
scan+filter, global window aggregation (the reference's hardest path —
compare BASELINE.md: 30d PSD heatmap ≈ 226 s single-node), grouped TPC-H
joins, window functions, as-of join, dedup joins, embedding top-k, and the
Arrow/mapInPandas multimodal path.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from ambient_sound_analysis_api_spark.registry import queries  # noqa: E402
from ambient_sound_analysis_api_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "ts_broadband_raw",
    "agg_bucket_mean_5m",
    "agg_daily_summary_tod",
    "psd_wide_matrix",
    "tpch_q1_pricing",
    "tpch_q3_topk",
    "tpch_q5_region_revenue",
    "tpch_rollup_revenue",
    "tpch_q13_custdist",
    "tpch_q18_big_orders",
    "win_top_orders_per_cust",
    "asof_latest_order",
    "range_join_click_error",
    "session_window_users",
    "ts_gap_fill",
    "pivot_daily_event_counts",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    # Arrow/numpy-kernel variant of the blocked cosine dedup — the at-scale
    # default; the JVM-fold twin keeps the SQL oracle (pair-equality tested)
    "dedup_embedding_cosine_arrow",
    "dedup_clusters",
    "text_rolling_fingerprint",
    "emb_cosine_topk",
    "mm_binary_meta",
    "tpch_q7_volume_shipping",
    "tpch_q16_supplier_cnt",
    "win_lag_event_gap",
    "text_vocab_topk",
    "pipeline_train_test_split",
    # round-4 additions: shingle-join decontamination and the per-dim
    # double-aggregation quantization audit — both shuffle-bearing
    "pipeline_decontaminate",
    "emb_quantize_int8",
    # round-5 addition: the regex-heavy all-Catalyst scrub projection — a
    # codegen shape (six regexp ops per row, zero shuffle) the set lacked
    "pipeline_pii_scrub",
    # round-5 breadth: count-table LM scoring (two build aggs + two joins
    # back), capped collect_list assembly, PQ fit+encode+ADC (iterative
    # model fit inside the timing), and the SCD2 classify+union write shape
    "text_bigram_lm_score",
    "pipeline_user_histories",
    "emb_pq_adc_topk",
    "pipeline_scd2_customers",
    # session-5 breadth: block dedup with document rebuild (count shuffle +
    # anti-join + order-preserving re-assembly), the broadcast Bloom-sketch
    # probe, and the per-user transition-matrix window
    "pipeline_block_dedup",
    "pipeline_bloom_prefilter",
    "agg_event_transitions",
    # round-6 breadth: deletion-neighborhood blocking + levenshtein verify,
    # degree-ordered wedge join over the near-dup graph, and the one-pass
    # covariance + broadcast power-iteration PCA fit
    "pipeline_entity_resolution",
    "graph_triangle_stats",
    "emb_pca_top_component",
    # round-7 breadth: mergeable-sketch rollup (register max-merge), the
    # cluster-keyed leakage-safe split (exact-dedup collapse + CC + hash
    # split), tokenizer application over the trained merges, and the
    # furthest-point selection loop (k scans + 1-row collects)
    "agg_hll_daily_rollup",
    "pipeline_leakage_safe_split",
    "text_bpe_encode_pieces",
    "emb_kcenter_diversity",
    # integer-ranked quantized-ANN audit (scale pass + codegen fold scan)
    "emb_int8_ann_recall",
    # round-8: the IVF-PQ recall@10-vs-nprobe sweep — one cell ranking +
    # one ADC scan fanned out over a broadcast 3-row probe list (memoized
    # codebooks, so the entry times the curve, not the Lloyd refit) — and
    # the multi-query BM25 eval (batched postings join + per-query windows)
    "emb_ivfpq_recall_curve",
    "retrieval_ndcg_mrr",
    # round-9: the scale-safe near-dup composition promoted to a
    # first-class operator — exact-collapse window + shingle join on
    # representatives + multiplicity joins (0.8× wall on the 10×-dup
    # probe vs 73× for the raw pair contract) — and batched IVF-PQ ANN
    # serving (3-query batch, one candidates scan, (query,nprobe)-
    # partitioned top-k windows; memoized codebooks)
    "dedup_representative_pairs",
    "emb_ivfpq_batch_topk",
    # round-9: the distributed model-fit shape — z-score stats pass + 4
    # full-batch logistic-GD aggregation passes with 1-row model collects
    # (the fastText-style learned quality gate; trajectory oracle-checked
    # step-by-step against the unrolled DuckDB CTE chain)
    "pipeline_quality_logit",
    # round-10: representative-first clustering (exact-collapse →
    # CC over the rep graph → membership expansion — the default-shaped
    # consumer of the round-9 collapse) and incremental ANN maintenance
    # (delta batch assigned+encoded against the memoized model, no refit,
    # top-k over old ∪ new)
    "dedup_clusters_representative",
    "emb_ivfpq_incremental",
    # round-10 second batch: serving from the persisted cell-partitioned
    # code index (partition-pruned nprobe-directory scan of code columns;
    # memoized build) and the fused one-pass-per-table expectation suite
    "emb_ivfpq_persisted_topk",
    "pipeline_expectations",
    # round-11: hybrid retrieval fusion (two top-20 branches + a 20-row
    # full-outer fuse), the chunk→doc dedup decision rollup (explode +
    # two linear shuffles, no pair join), and the per-file min/max
    # skipping audit (pure scan + one small agg). The IVFADC recall
    # GATE moved to the AUDIT set (its cost is the exact ground-truth
    # branch, definitional, not a serving shape).
    "retrieval_rrf_fusion",
    "dedup_chunk_doc_reconcile",
    "layout_zorder_file_skipping",
    # round-11 second wave: the score-vocabulary AUC (histogram group-by
    # + bounded cumulative window), the vocabulary-cumsum token-budget
    # cut, and the user-windowed last-touch attribution — three agg
    # shapes the set lacked
    "eval_quality_auc",
    "pipeline_token_budget",
    "agg_attribution_last_touch",
    # round-12: lexical serving from the persisted inverted index (term
    # predicate pushed into the range-sorted postings scan; no corpus
    # tokenize) — the sparse twin of emb_ivfpq_persisted_topk
    "retrieval_bm25_persisted_topk",
    # round-13: serving from the SEGMENTED lexical store after a delta
    # admission (multi-path postings scan, algebraically merged stats —
    # the index-maintenance serving shape)
    "retrieval_bm25_incremental",
    # round-14: the store lifecycle's delete verb — serving after a
    # tombstone delete (same scan shapes + one broadcast anti-join)
    "retrieval_bm25_delete",
    "emb_ivfpq_delete",
]

# --scale mode (round-12 VERDICT #1): the ~12 heaviest extension
# pipelines, re-timed on a K×-replicated corpus (scripts/scale_probe.py
# builds it: documents/embeddings/events grow K×, documents
# adversarially dup-heavy — every text gains K-1 exact copies). The
# committed SCALE_r{N}.json turns the "survives 100×" design claims
# from NOTES prose into machine-readable wall-ratios. ``expected`` is
# the complexity the plan shape predicts; a measured ratio materially
# above it is a scale regression.
SCALE_SET = {
    # representative-collapse dedup: exact-copy collapse before the
    # shingle join; dup-heavy growth stresses exactly its defense
    "dedup_clusters_representative": "~linear (collapse kills dup²)",
    "dedup_representative_pairs": "~linear (pairs bounded by distinct texts)",
    "dedup_minhash_lsh": "~linear in rows + band-bucket pair growth",
    "dedup_exact_substring": "~linear L-gram coverage",
    "pipeline_leakage_safe_split": "~linear (collapse before Jaccard join)",
    "pipeline_decontaminate_substring": "~linear gram stream vs fixed bench side",
    "emb_pca_top_component": "~linear scan; d² wire cost row-independent",
    "emb_ivfpq_incremental": "~linear delta encode + probed-cell scan",
    "emb_ivfpq_batch_topk": "~linear probed-cell scan per batch",
    "retrieval_bm25_persisted_topk": "index build linear; serve reads postings",
    "pipeline_quality_logit": "~linear (5 full-batch agg passes)",
    "agg_hll_rollup_singlescan": "~linear one-scan sketch rollup",
    # round-13 heavies + round-14 lifecycle verbs (VERDICT #5)
    "emb_pca_topk_spectrum": "~linear cov pass; k x d^2 model iterations",
    "pipeline_canonical_decontaminated": "~linear (3 composed linear stages)",
    "retrieval_bm25_incremental": "delta-only tokenize; serve reads postings",
    "retrieval_bm25_compacted": "compaction rewrites index rows once",
    "retrieval_bm25_delete": "delete adjusts stats from index rows only",
    "emb_ivfpq_delete": "membership republish + broadcast anti-join serve",
}


# Audit-only entries (run with --audit): definitional acceptance gates
# whose cost is the EXACT ground-truth branch, not a serving shape — the
# headline total must track what a user's query costs, not what the
# engine's self-check costs (round-11 VERDICT #8). The recall gate's
# serve twin (emb_ivfpq_persisted_topk) stays in the headline set.
AUDIT = [
    "emb_ivfpq_incremental_recall_gate",
    # pure-ADC recall audits on the clustered fixture: cost is the exact
    # ground-truth branch + an un-memoizable residual encode of the
    # probed cells — definitional, not a serving shape
    "emb_ivfpq_residual_adc_audit",
    # recall-vs-code-budget frontier: TWO residual fits + two pure-ADC
    # passes against the exact baseline (round-14; same audit class)
    "emb_ivfpq_code_budget_curve",
    # round-14 (r13 VERDICT #6): composition PROOFS, not serving-path
    # queries — each is a chain of individually-benched linear stages,
    # and their ~10 s walls were 20% of a headline meant to read as
    # steady-state serve cost. Still run + recorded in bench_full by
    # --audit.
    "emb_pca_topk_spectrum",
    "pipeline_canonical_decontaminated",
]


def time_phases(spark, fn, sf_dir: str) -> dict[str, float]:
    """The one registry-query timer: best of 2 runs by total, the cache
    cleared before each run. A run splits into three phases:

    - build: the Python call ``fn(spark, sf_dir)``, including any
      driver-side jobs the query runs while constructing its plan (fitted
      artifacts persist across calls, as they do for a serving caller);
    - plan: ``queryExecution().executedPlan()``, Catalyst analysis,
      optimization and physical planning of the final frame;
    - exec: a noop-sink write, which materializes every output column at
      no sink cost. A ``count()`` would let Catalyst prune the columns it
      does not read.
    """
    best: dict[str, float] = {}
    for _ in range(2):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        run = {
            "build": t1 - t0, "plan": t2 - t1, "exec": t3 - t2, "total": t3 - t0,
        }
        if not best or run["total"] < best["total"]:
            best = run
    return best


def run_scale(args: list[str]) -> None:
    """``bench.py --scale [K] [--out PATH] [query ...]``: time each
    SCALE_SET entry at 1× and K×, print one JSON line, write the full
    document to ``--out`` (default logs/scale_full.json). Row counts come
    from one untimed ``count()`` per scale."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import scale_probe

    ks = [int(a) for a in args if a.isdigit()]
    k = ks[0] if ks else 10
    out_path = os.path.join(REPO, "logs", "scale_full.json")
    if "--out" in args:
        out_path = args[args.index("--out") + 1]
    names = [
        a for a in args
        if not a.isdigit() and not a.startswith("--") and a != out_path
    ] or list(SCALE_SET)
    spark = get_spark("bench-scale")
    qs = queries()

    big = scale_probe.build_corpus(spark, k)
    # session warmup outside any timing: JVM, codegen, parquet footers
    # (the first probed query otherwise absorbs it into its 1x wall)
    qs[names[0]](spark, scale_probe.BASE).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.catalog.clearCache()
    doc = {
        "metric": f"scale_wall_ratio_{k}x",
        "k": k,
        "base": scale_probe.BASE,
        "unit": "ratio",
        "queries": {},
    }
    try:
        for name in names:
            fn = qs[name]
            t1 = time_phases(spark, fn, scale_probe.BASE)["total"]
            n1 = fn(spark, scale_probe.BASE).count()
            tk = time_phases(spark, fn, big)["total"]
            nk = fn(spark, big).count()
            ratio = round(tk / t1, 2) if t1 > 0 else None
            doc["queries"][name] = {
                "wall_1x": round(t1, 2),
                f"wall_{k}x": round(tk, 2),
                "rows_1x": n1,
                f"rows_{k}x": nk,
                "ratio": ratio,
                "expected": SCALE_SET.get(name, "~linear"),
            }
            print(
                f"# {name}: {t1:.2f}s -> {tk:.2f}s ({ratio}x, "
                f"rows {n1}->{nk})",
                file=sys.stderr,
            )
    finally:
        import shutil

        shutil.rmtree(big, ignore_errors=True)
    try:
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(f"# full scale document: {out_path}", file=sys.stderr)
    except OSError as e:  # pragma: no cover
        print(f"# could not write {out_path}: {e}", file=sys.stderr)
    print(json.dumps(doc, separators=(",", ":")))


#: The driver records only the LAST ~2000 characters of bench output and
#: parses the JSON line out of that tail — BENCH_r10/r11 both shipped with
#: ``parsed: null`` because the single line outgrew the window and lost its
#: opening brace. The final stdout line is therefore budgeted: compact
#: separators, 2dp timings, and a trim so it can never outgrow the window.
_LINE_BUDGET = 1950


def _fit_line(out: dict) -> str:
    """Render ``out`` as one JSON line of at most _LINE_BUDGET characters.

    An over-budget line drops ``queries`` entries alphabetically from the
    end and says so with ``queries_trimmed``; logs/bench_full.json always
    keeps every entry."""
    line = json.dumps(out, separators=(",", ":"))
    if len(line) <= _LINE_BUDGET:
        return line
    doc = dict(out, queries=dict(out["queries"]), queries_trimmed=True)
    names = sorted(doc["queries"])
    while names and len(line) > _LINE_BUDGET:
        doc["queries"].pop(names.pop())
        line = json.dumps(doc, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    args = sys.argv[1:]
    allowed = {"--scale", "--out"} if "--scale" in args else {"--audit"}
    bad = [a for a in args if a.startswith("--") and a not in allowed]
    if bad:
        sys.exit(f"bench.py: unknown option {bad[0]}\n{__doc__}")
    if "--scale" in args:
        args.remove("--scale")
        run_scale(args)
        return
    picked = [a for a in args if a != "--audit"]
    names = (picked or HEADLINE) + (AUDIT if "--audit" in args else [])
    spark = get_spark("bench")
    qs = queries()

    # warm the JVM/session AND the parquet read path (footer decode, FS
    # cache, codec init) so per-query numbers measure the plan, not
    # startup — without the table touch the first entry
    # (ts_broadband_raw) absorbs the cold read
    spark.range(1).count()
    try:
        spark.read.parquet(f"{sf_dir}/events.parquet").count()
    except Exception:
        pass

    # the QUERY mode's table is its result (stdout); the headline mode
    # keeps stdout for its one JSON line
    table = sys.stdout if picked else sys.stderr
    phases = ("build", "plan", "exec", "total")
    print(f"{'query':42s}" + "".join(f" {p:>7s}" for p in phases), file=table)
    split: dict[str, dict[str, float]] = {}
    for name in names:
        t = split[name] = time_phases(spark, qs[name], sf_dir)
        print(f"{name:42s}" + "".join(f" {t[p]:7.2f}" for p in phases), file=table)
    if picked:
        return

    timings = {q: t["total"] for q, t in split.items() if q not in AUDIT}
    out = {
        "metric": "headline_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {q: round(t, 2) for q, t in timings.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    full = dict(
        out,
        queries={q: round(t, 3) for q, t in timings.items()},
        split={
            q: {p: round(v, 3) for p, v in t.items()} for q, t in split.items()
        },
    )
    audit = {q: round(t["total"], 3) for q, t in split.items() if q in AUDIT}
    if audit:
        full["audit"] = audit
    full_path = os.path.join(REPO, "logs", "bench_full.json")
    try:
        os.makedirs(os.path.dirname(full_path), exist_ok=True)
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
        print(f"# full document (split + audit): {full_path}", file=sys.stderr)
    except OSError as e:  # pragma: no cover - disk-full etc.
        print(f"# could not write {full_path}: {e}", file=sys.stderr)
    # the budgeted one-liner goes LAST so the driver's tail window always
    # contains a complete, parseable JSON object
    print(_fit_line(out))


if __name__ == "__main__":
    main()
