"""Retrieval-prep operators: inverted index build and BM25 scoring.

The RAG / retrieval side of a training-data pipeline: build the
term → postings structure a sparse retriever needs, and score documents
against a term query with BM25 (the Lucene/Okapi default). Everything
is explode → partial-agg → equi-join — the same scan-shaped plans as the
vocabulary/TF-IDF queries, so the build parallelizes with the corpus
and no Python touches the hot path.

Determinism across engines (for the DuckDB oracles): document length
and term frequencies are exact integers; ``avgdl`` is one double
division of exact integers; the ``ln`` in idf is rounded to 6 decimals
at the point it enters arithmetic (absorbing last-ulp libm differences,
the ``operators.lm`` contract) and per-term scores are summed in
DECIMAL so partition order cannot perturb the total.

Extension surface beyond the reference (SURVEY.md §7.7 charter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import letter_tokens
from .atomic_swap import (
    current_segments, new_segment, publish_segments, resolve_version,
)

BM25_K1 = 1.2
BM25_B = 0.75


def term_frequencies(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) over letter/digit-run tokens — one explode +
    one map-side-combined aggregation."""
    return (
        docs.select("doc_id", F.explode(letter_tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def inverted_index(docs: DataFrame, min_df: int = 5, postings_cap: int = 20) -> DataFrame:
    """term → (df, cf, head of the sorted posting list).

    ``df`` (document frequency) and ``cf`` (collection frequency) are
    exact over the whole corpus; the posting list is capped at
    ``postings_cap`` entries so row width stays bounded no matter how
    common the term — the index row for "the" must not be a 100 MB
    string at 100 TB. The cap is enforced BEFORE any list materializes:
    a ``row_number`` window ranks postings per term and only the head
    survives into ``collect_list`` — ``slice(sort_array(collect_list))``
    would gather a stop-word's entire billion-row posting set into one
    aggregation buffer before discarding it. The window and both
    aggregations hash-partition on ``term``, so Catalyst reuses one
    exchange across them.

    The ``min_df`` filter is applied to the STATS side first and
    semi-joined into the window input, so sub-threshold terms — typically
    the overwhelming majority of the vocabulary (typos, hashes, ids) —
    never pay for ranking or list assembly; only their cheap stats row is
    computed and discarded.
    """
    from pyspark.sql import Window

    tf = term_frequencies(docs)
    stats = tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    ).filter(F.col("df") >= min_df)
    w = Window.partitionBy("term").orderBy("doc_id")
    heads = (
        tf.join(stats.select("term"), "term", "left_semi")
        .select("term", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= postings_cap)
        .groupBy("term")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("doc_id")), ","
            ).alias("postings_head")
        )
    )
    return stats.join(heads, "term")


def _bm25_score_topk(
    tf: DataFrame,
    df_tbl: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Shared BM25 scoring tail over prepared inputs — ``tf`` (doc_id,
    term, tf) already filtered to the query terms, ``df_tbl`` (term, df),
    ``dl`` (doc_id, dl), ``stats`` (1 row: n_docs, sum_dl). One
    arithmetic for the recompute, segmented-store and streamed-store
    paths, so they are value-equal by construction (the hash-checked
    twin contract). Determinism: 6dp-rounded ``ln`` idf, 6dp-rounded
    per-term scores summed in DECIMAL, fixed-point rank key with doc_id
    tie-break."""
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    # Lucene BM25 idf: ln(1 + (N - df + 0.5) / (df + 0.5)), 6dp-rounded.
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    tfnorm = (F.col("tf") * (F.lit(k1) + F.lit(1.0))) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl)
    )
    per_term = F.round(idf * tfnorm, 6).cast("decimal(20,6)")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum(per_term).cast("double").alias("bm25"),
            F.count("*").alias("n_terms_hit"),
        )
        .orderBy(
            F.col("bm25").cast("decimal(32,12)").desc(), F.col("doc_id")
        )
        .limit(k)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 top-k documents for a bag-of-terms query.

    Plan shape: the per-(doc,term) tf table is filtered to the query
    terms *before* its aggregation (the ``isin`` rides the explode, so
    only query-term postings shuffle); per-term document frequencies
    aggregate from that same filtered stream; corpus stats (N, avgdl)
    are a 1-row broadcast. Scoring is pure codegen arithmetic; the
    global top-k is a ``TakeOrderedAndProject`` keyed on a fixed-point
    cast of the rounded score (ADVICE round-5: never rank on raw
    doubles across engines) with doc_id tie-break.
    """
    from .caching import tracked_persist

    terms = [t.lower() for t in query_terms]
    # ONE tokenize pass: dl and tf both derive from the same persisted
    # token-array projection (the regexp extraction is the scan's CPU
    # cost, and the former dl/tf persists each re-ran it — 2 full regex
    # passes per query). dl/tf stay persisted too: each is consumed by
    # TWO subtrees (stats+scored, df+scored) and Spark shares no common
    # subplans across references. All three are post-tokenize artifacts
    # a production index would materialize anyway.
    toks = tracked_persist(
        docs.select("doc_id", letter_tokens(F.col("text")).alias("_toks"))
    )
    dl = tracked_persist(
        toks.select("doc_id", F.size("_toks").alias("dl"))
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )  # 1 row
    tf = tracked_persist(
        toks.select("doc_id", F.explode("_toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))

    # tf (query-term postings) ⋈ dl (corpus lengths) is a plain equi-join
    # on doc_id — AQE broadcasts whichever side is small at runtime; the
    # per-term df and the 1-row corpus stats are explicit broadcasts.
    return _bm25_score_topk(tf, df_tbl, dl, stats, k=k, k1=k1, b=b)


def bm25_eval(
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Retrieval-quality evaluation: NDCG@k, MRR@k, and relevant-hit
    count for a batch of bag-of-terms BM25 queries — the eval-harness
    readout that decides whether a retrieval index is good enough to
    serve (RAG corpus curation, index regression gates).

    Relevance labels are deterministic term-coverage grades derived from
    the data itself: ``rel = (distinct query terms present in doc) - 1``
    (docs matching a single term are grade 0 = non-relevant; full
    coverage of an m-term query grades m-1). Graded NDCG uses the
    standard ``(2^rel - 1) / log2(rank + 1)`` gains; MRR is the
    reciprocal rank of the first rel>=1 document in the BM25 top-k (0.0
    when none).

    ONE plan for the whole query batch, not one per query: the postings
    table is filtered by a broadcast (query_id, term) join so only
    query-term postings shuffle once; per-(query, doc) scores aggregate
    from that stream; per-query ranking is a window partitioned by
    query_id. Read cost is one corpus scan regardless of batch size —
    the multi-query analog of ``bm25_topk``'s plan shape.

    Cross-engine determinism: BM25 per-term scores follow ``bm25_topk``'s
    contract (6dp-rounded ln, DECIMAL sums, fixed-point rank keys with
    doc_id tie-breaks); each DCG gain term is 6dp-rounded BEFORE its
    DECIMAL sum (absorbing last-ulp log2 differences); ndcg/mrr are
    divisions of identical operands. Returns
    ``(query_id, ndcg_at_k, mrr_at_k, n_rel_at_k)``.
    """
    from pyspark.sql import Window

    from .caching import tracked_persist

    spark = docs.sparkSession
    qrows = [(int(qid), t.lower()) for qid, terms in queries for t in terms]
    qtab = spark.createDataFrame(qrows, "query_id int, term string")

    # persisted for the same multi-reference reason as bm25_topk (dl feeds
    # stats AND the score join, tf feeds df AND the score join), with the
    # same single-tokenize structure: dl and tf both read the one
    # persisted token-array projection instead of each re-running the
    # regexp pass (measured: 8 parquet scans for a 3-query batch before
    # any persist; 2 with dl/tf persisted; 1 tokenize with toks shared)
    toks = tracked_persist(
        docs.select("doc_id", letter_tokens(F.col("text")).alias("_toks"))
    )
    dl = tracked_persist(
        toks.select("doc_id", F.size("_toks").alias("dl"))
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )  # 1 row
    tf = tracked_persist(
        toks.select("doc_id", F.explode("_toks").alias("term"))
        .join(F.broadcast(qtab.select("term").distinct()), "term", "left_semi")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))

    scored = (
        tf.join(F.broadcast(qtab), "term")
        .join(F.broadcast(df_tbl), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    tfnorm = (F.col("tf") * (F.lit(k1) + F.lit(1.0))) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl)
    )
    per_term = F.round(idf * tfnorm, 6).cast("decimal(20,6)")
    qd = scored.groupBy("query_id", "doc_id").agg(
        F.sum(per_term).cast("double").alias("bm25"),
        (F.count("*") - 1).cast("int").alias("rel"),
    )

    w_bm25 = Window.partitionBy("query_id").orderBy(
        F.col("bm25").cast("decimal(32,12)").desc(), F.col("doc_id")
    )
    w_ideal = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id")
    )
    ranked = qd.select(
        "query_id",
        "doc_id",
        "rel",
        F.row_number().over(w_bm25).alias("rn"),
        F.row_number().over(w_ideal).alias("rn_ideal"),
    )

    def gain(rel_col: F.Column, rank_col: F.Column) -> F.Column:
        return F.round(
            (F.pow(F.lit(2.0), rel_col.cast("double")) - F.lit(1.0))
            / F.log2(rank_col.cast("double") + F.lit(1.0)),
            6,
        ).cast("decimal(20,6)")

    zero = F.lit(0).cast("decimal(20,6)")
    agg = ranked.groupBy("query_id").agg(
        F.sum(
            F.when(F.col("rn") <= k, gain(F.col("rel"), F.col("rn"))).otherwise(zero)
        ).cast("double").alias("_dcg"),
        F.sum(
            F.when(
                F.col("rn_ideal") <= k,
                gain(F.col("rel"), F.col("rn_ideal")),
            ).otherwise(zero)
        ).cast("double").alias("_idcg"),
        F.min(
            F.when((F.col("rn") <= k) & (F.col("rel") >= 1), F.col("rn"))
        ).alias("_first_rel"),
        F.sum(
            F.when((F.col("rn") <= k) & (F.col("rel") >= 1), 1).otherwise(0)
        ).cast("long").alias("n_rel_at_k"),
    )
    return agg.select(
        "query_id",
        F.when(
            F.col("_idcg") > 0, F.round(F.col("_dcg") / F.col("_idcg"), 6)
        ).otherwise(F.lit(0.0)).alias("ndcg_at_k"),
        F.when(
            F.col("_first_rel").isNotNull(),
            F.round(F.lit(1.0) / F.col("_first_rel").cast("double"), 6),
        ).otherwise(F.lit(0.0)).alias("mrr_at_k"),
        "n_rel_at_k",
    ).orderBy("query_id")


def rrf_fuse(
    rankings: "dict[str, DataFrame]",
    k: int = 10,
    k0: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of several top-k rankings — THE hybrid
    retrieval combiner (Cormack et al., SIGIR 2009): each input list
    contributes ``1 / (k0 + rank)`` for every document it ranks, and
    documents missing from a list contribute nothing. Rank-based fusion
    needs no score calibration between a BM25 tier and an ANN tier —
    exactly why it is the default fusion in hybrid search stacks — and
    ``k0`` (conventionally 60) damps the head so one list's #1 cannot
    drown agreement further down.

    Inputs: ``{name: DataFrame(id_col, rank)}`` with 1-based distinct
    ranks (each a top-k list, so each side is k-row MODEL-SIZED — never
    corpus-sized). Plan shape: the lists are full-outer-joined on
    ``id_col`` (k-row hash joins; the corpus is NOT re-scanned here —
    scan cost lives in the branches that produced the lists), the fused
    score is a fixed-arity sum of per-list terms, and the output is the
    global top-``k`` on it.

    Cross-engine determinism: each term ``1/(k0+rank)`` is 6dp-rounded
    into DECIMAL(20,6) (the BM25 per-term contract) and the fixed-arity
    decimal addition is order-free; ties order by ``id_col``. Returns
    ``(id_col, <name>_rank ..., n_lists, rrf_score)`` with null ranks
    for lists that missed the document.
    """
    if not rankings:
        raise ValueError("rrf_fuse: rankings must be non-empty")
    names = list(rankings)
    joined = None
    for name, df in rankings.items():
        side = df.select(
            F.col(id_col), F.col("rank").cast("int").alias(f"{name}_rank")
        )
        joined = side if joined is None else joined.join(
            side, id_col, "full_outer"
        )

    zero = F.lit(0).cast("decimal(20,6)")

    def term(rank_col: F.Column) -> F.Column:
        return F.coalesce(
            F.round(
                F.lit(1.0) / (F.lit(float(k0)) + rank_col.cast("double")), 6
            ).cast("decimal(20,6)"),
            zero,
        )

    score = term(F.col(f"{names[0]}_rank"))
    for n in names[1:]:
        score = (score + term(F.col(f"{n}_rank"))).cast("decimal(20,6)")
    n_lists = sum(
        F.when(F.col(f"{n}_rank").isNotNull(), 1).otherwise(0) for n in names
    ).cast("int")
    return (
        joined.select(
            id_col,
            *[f"{n}_rank" for n in names],
            n_lists.alias("n_lists"),
            score.alias("_sc"),
        )
        .orderBy(F.col("_sc").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            *[f"{n}_rank" for n in names],
            "n_lists",
            F.col("_sc").cast("double").alias("rrf_score"),
        )
    )


def weighted_score_fuse(
    scored: "dict[str, tuple[DataFrame, float]]",
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted-score fusion of several top-k lists: each list's scores
    are min-max normalized WITHIN the list (a degenerate constant list
    normalizes to 1.0), scaled by the list's weight, and summed — the
    calibrated alternative to :func:`rrf_fuse` when relative score
    magnitudes inside a list carry signal (e.g. a steep BM25 head should
    outvote a flat ANN tail, which rank fusion cannot see).

    Inputs: ``{name: (DataFrame(id_col, score), weight)}`` with
    higher-is-better scores, each a top-k MODEL-SIZED list. Plan: each
    list's 1-row min/max aggregate joins back as a broadcast (the 1-row
    nested-loop pattern of the stat-card queries), lists full-outer-join
    on ``id_col``, missing side contributes 0.

    Determinism: normalization divides identical doubles on both
    engines; each weighted contribution is 6dp-rounded into
    DECIMAL(20,6) before the fixed-arity sum. Returns
    ``(id_col, n_lists, fused_score)``.
    """
    if not scored:
        raise ValueError("weighted_score_fuse: scored must be non-empty")
    names = list(scored)
    joined = None
    for name, (df, w) in scored.items():
        mm = df.agg(
            F.min("score").alias("_mn"), F.max("score").alias("_mx")
        )
        norm = F.when(
            F.col("_mx") > F.col("_mn"),
            (F.col("score") - F.col("_mn")) / (F.col("_mx") - F.col("_mn")),
        ).otherwise(F.lit(1.0))
        side = (
            df.crossJoin(F.broadcast(mm))
            .select(
                F.col(id_col),
                F.round(F.lit(float(w)) * norm, 6)
                .cast("decimal(20,6)")
                .alias(f"{name}_contrib"),
            )
        )
        joined = side if joined is None else joined.join(
            side, id_col, "full_outer"
        )
    zero = F.lit(0).cast("decimal(20,6)")
    score = F.coalesce(F.col(f"{names[0]}_contrib"), zero)
    for n in names[1:]:
        score = (score + F.coalesce(F.col(f"{n}_contrib"), zero)).cast(
            "decimal(20,6)"
        )
    n_lists = sum(
        F.when(F.col(f"{n}_contrib").isNotNull(), 1).otherwise(0)
        for n in names
    ).cast("int")
    return (
        joined.select(
            id_col, n_lists.alias("n_lists"), score.alias("_sc")
        )
        .orderBy(F.col("_sc").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            "n_lists",
            F.col("_sc").cast("double").alias("fused_score"),
        )
    )


def rm3_expansion_terms(
    docs: DataFrame,
    seed_terms: list[str],
    fb_k: int = 10,
    n_expand: int = 3,
    min_len: int = 4,
) -> list[str]:
    """Pseudo-relevance-feedback term selection (the RM3 shape): run the
    seed query, take the top ``fb_k`` documents as feedback, and pick the
    ``n_expand`` most frequent content terms from them.

    Content filter: letter/digit-run tokens of length ≥ ``min_len`` that
    are neither seed terms nor stopwords — the deterministic stand-in
    for RM3's LM-weighted selection (frequency-in-feedback IS the
    maximum-likelihood feedback model with uniform doc weights).
    Ordering is (count desc, term asc), so the expansion is
    deterministic across runs and engines.

    Driver sync: returns a PYTHON list (``n_expand`` strings, a
    model-sized collect — same class as k/nprobe collects) because the
    expanded term set parameterizes the second-pass plan.
    """
    from ..functions.text import STOPWORDS, letter_tokens

    seed = [t.lower() for t in seed_terms]
    fb_ids = bm25_topk(docs, seed, k=fb_k).select("doc_id")
    fb = docs.join(F.broadcast(fb_ids), "doc_id", "left_semi")
    excluded = set(seed) | set(STOPWORDS)
    counts = (
        fb.select(F.explode(letter_tokens(F.col("text"))).alias("term"))
        .filter(F.length("term") >= min_len)
        .filter(~F.col("term").isin(sorted(excluded)))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(n_expand)
    )
    return [r.term for r in counts.collect()]


def bm25_rm3_topk(
    docs: DataFrame,
    seed_terms: list[str],
    k: int = 20,
    fb_k: int = 10,
    n_expand: int = 3,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Two-pass BM25 with RM3-style pseudo-relevance feedback: seed query
    → top-``fb_k`` feedback docs → ``n_expand`` expansion terms →
    re-score with the expanded bag. The recall-repair move a retrieval
    pipeline applies when seed queries are short (decontamination probes,
    eval-set mining). Both passes are the ``bm25_topk`` plan shape (one
    postings filter-shuffle each + 1-row stats broadcasts); the only
    driver state is the ``n_expand``-string expansion list.
    """
    expansion = rm3_expansion_terms(
        docs, seed_terms, fb_k=fb_k, n_expand=n_expand
    )
    terms = [t.lower() for t in seed_terms] + expansion
    return bm25_topk(docs, terms, k=k, k1=k1, b=b)


# ---------------------------------------------------------------------------
# segmented lexical index: the persisted BM25 store
#
# Every persisted BM25 index is a segmented store, the Lucene shape:
# postings and doclens live in IMMUTABLE SEGMENTS under ``root/segs/``
# (one per publish or admitted batch; the tokenize cost of an admit is
# O(delta), never O(corpus)); each published version is just a
# ``segments.json`` membership list plus the vocabulary-sized merged
# termstats and the 1-row merged stats — both algebraic sums of
# per-segment partials (the ``daily_partials`` /
# ``merge_partials_monthly`` pattern from operators/aggregations.py). A
# whole-corpus publish is the one-segment, tombstone-free case.
# Publication rides the SAME segmented manifest-pointer store as the
# IVF-PQ code store (``atomic_swap.publish_segments`` over
# ``publish_version``), so the atomicity/race/retention contract tests
# cover it too; the streamed batch admit is ``atomic_swap.admit_batch``.
# Serving resolves the current version once and multi-path-reads every
# live segment's postings in ONE scan (term predicate still pushed to
# each range-sorted file's footer).
#
# Hash-equality with a full rebuild holds by algebra: with append-only
# disjoint doc_ids, ∪ segment tf == full-corpus tf, Σ segment df == full
# df, Σ (n_docs, sum_dl) == full stats — proven by the registry twin
# ``retrieval_bm25_incremental`` sharing ``text_bm25_topk``'s oracle.


def bm25_write_segment(docs: DataFrame, seg_path: str) -> None:
    """Materialize ONE immutable postings segment from ``docs`` — at
    admit time ``docs`` is the DELTA batch only, so this is the only
    place the text column is read (plan-pinned: the serve path never
    tokenizes). Four tables: ``postings`` (term, doc_id, tf) range-sorted
    for footer-level term skipping, ``doclens`` (doc_id, dl), and the
    segment's ALGEBRAIC PARTIALS ``termstats`` (term, df) and ``stats``
    (n_docs, sum_dl) — mergeable by summation at publish time."""
    tf = term_frequencies(docs)
    (
        tf.repartitionByRange(8, "term")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("errorifexists")
        .parquet(f"{seg_path}/postings")
    )
    dl = docs.select(
        "doc_id", F.size(letter_tokens(F.col("text"))).alias("dl")
    )
    dl.write.mode("errorifexists").parquet(f"{seg_path}/doclens")
    (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .write.mode("errorifexists")
        .parquet(f"{seg_path}/termstats")
    )
    dl.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    ).write.mode("errorifexists").parquet(f"{seg_path}/stats")


def _write_merged_stats(termstats: DataFrame, stats: DataFrame):
    """The version-table writer a segmented BM25 publish hands
    ``atomic_swap.publish_segments``: the merged ``termstats``
    (range-sorted for footer-level term skipping) and the 1-row merged
    ``stats``."""

    def write(vpath: str) -> None:
        (
            termstats.repartitionByRange(4, "term")
            .sortWithinPartitions("term")
            .write.mode("errorifexists")
            .parquet(f"{vpath}/termstats")
        )
        stats.write.mode("errorifexists").parquet(f"{vpath}/stats")

    return write


def bm25_publish_segmented(
    docs: DataFrame,
    root: str,
    retain: int = 2,
    fingerprint: "str | None" = None,
) -> str:
    """Base publish of the segmented store: one segment holding the whole
    starting corpus; the version's merged termstats/stats ARE the
    segment's partials. Returns the published version path."""
    spark = docs.sparkSession
    seg, seg_path = new_segment(root)
    bm25_write_segment(docs, seg_path)
    return publish_segments(
        spark, root, [seg], retain=retain, fingerprint=fingerprint,
        write_tables=_write_merged_stats(
            spark.read.parquet(f"{seg_path}/termstats"),
            spark.read.parquet(f"{seg_path}/stats"),
        ),
    )


def bm25_admit_delta(
    delta_docs: DataFrame,
    root: str,
    retain: int = 2,
    fingerprint: "str | None" = None,
) -> str:
    """Admit a DELTA batch of documents into the segmented store: write
    one new segment from the delta (the only tokenize), merge the
    standing version's termstats/stats with the segment's partials by
    summation, and publish segments ∪ {new} via the shared manifest
    pointer. Nothing corpus-sized is rewritten — the standing segments'
    postings/doclens files are untouched on disk.

    Append discipline: delta ``doc_id``s must be disjoint from the
    standing corpus (the ``ivfpq_delta_index`` admission contract) — a
    re-submitted id would double-count df/dl. Segment GC assumes
    single-writer admits (concurrent VERSION writers stay safe via the
    manifest total order, but a concurrent admit's not-yet-published
    segment is invisible to the GC's liveness scan)."""
    spark = delta_docs.sparkSession
    if resolve_version(spark, root) is None:
        return bm25_publish_segmented(
            delta_docs, root, retain=retain, fingerprint=fingerprint
        )
    vpath, seg_names, tomb = current_segments(
        spark, root, "bm25_admit_delta"
    )
    seg, seg_path = new_segment(root)
    bm25_write_segment(delta_docs, seg_path)
    merged_ts = (
        spark.read.parquet(f"{vpath}/termstats")
        .unionByName(spark.read.parquet(f"{seg_path}/termstats"))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    merged_st = (
        spark.read.parquet(f"{vpath}/stats")
        .unionByName(spark.read.parquet(f"{seg_path}/stats"))
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        )
    )
    return publish_segments(
        spark, root, list(seg_names) + [seg],
        retain=retain, fingerprint=fingerprint,
        # standing deletions carry forward (delta ids are disjoint from
        # the whole standing corpus, deleted docs included — readmitting
        # a deleted id needs a compaction first, which clears the list)
        tombstones=tomb,
        write_tables=_write_merged_stats(merged_ts, merged_st),
    )


def bm25_delete_docs(
    delete_ids: DataFrame,
    root: str,
    retain: int = 2,
    fingerprint: "str | None" = None,
) -> str:
    """TOMBSTONE deletion from the segmented store (round-13 VERDICT #2
    — real corpora shrink: takedowns, opt-outs, re-dedup): publish a new
    version that (a) carries the standing membership UNCHANGED — no
    postings/doclens file is rewritten, nothing re-tokenizes — (b) adds
    the deleted ids to the version's ``tombstones`` table, and (c)
    re-derives df/avgdl/N by SUBTRACTING the deleted docs' contributions,
    computed entirely from the standing INDEX rows (their postings rows
    give per-term df decrements; their doclens rows give the N/Σdl
    decrement). The arithmetic is the admit algebra run backwards, so
    serving after a delete is hash-equal to a from-scratch rebuild of
    the surviving corpus — the registry twin pins it ×3 SFs.

    The serve path anti-joins the (takedown-sized, broadcast) tombstone
    table against postings and doclens; df/stats need no read-time
    correction because this publish already adjusted them.
    :func:`bm25_compact_segments` folds tombstones out physically and
    publishes a clean (tombstone-free) membership.

    Idempotent under re-deletion: already-tombstoned ids contribute no
    further stat adjustment. Deleting an id that never existed is a
    no-op row in the tombstone table."""
    spark = delete_ids.sparkSession
    vpath, segs, old_tomb = current_segments(spark, root, "bm25_delete_docs")
    ids = delete_ids.select(F.col("doc_id").cast("long")).distinct()
    if old_tomb is not None:
        fresh = ids.join(old_tomb, "doc_id", "left_anti")
        all_tomb = old_tomb.unionByName(fresh).distinct()
    else:
        fresh, all_tomb = ids, ids
    dl = spark.read.parquet(*[f"{root}/segs/{s}/doclens" for s in segs])
    gone_st = (
        dl.join(F.broadcast(fresh), "doc_id", "semi")
        .agg(
            F.count("*").cast("long").alias("gone_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("gone_dl"),
        )
    )
    merged_st = (
        spark.read.parquet(f"{vpath}/stats")
        .crossJoin(F.broadcast(gone_st))
        .select(
            (F.col("n_docs") - F.col("gone_docs")).cast("long")
            .alias("n_docs"),
            (F.col("sum_dl") - F.col("gone_dl")).cast("long")
            .alias("sum_dl"),
        )
    )
    gone_df = (
        spark.read.parquet(*[f"{root}/segs/{s}/postings" for s in segs])
        .join(F.broadcast(fresh), "doc_id", "semi")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("gone"))
    )
    merged_ts = (
        spark.read.parquet(f"{vpath}/termstats")
        .join(gone_df, "term", "left")
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("gone"), F.lit(0)))
            .cast("long")
            .alias("df"),
        )
        .filter(F.col("df") > 0)
    )
    return publish_segments(
        spark, root, list(segs), retain=retain, fingerprint=fingerprint,
        tombstones=all_tomb,
        write_tables=_write_merged_stats(merged_ts, merged_st),
    )


def _bm25_version_tables(spark, root: str, version):
    """``(postings, doclens, termstats, stats)`` of one resolved version
    ``(vpath, segs, tombstones)`` of the segmented store (as
    :func:`~.atomic_swap.current_segments` returns it): one multi-path
    scan of every live segment's postings and one of its doclens, with
    tombstoned docs anti-joined (takedown-sized broadcast), plus the
    version's merged termstats and 1-row stats. df/avgdl/N need no
    read-time correction — a delete publish already adjusted them."""
    vpath, segs, tomb = version
    tf = spark.read.parquet(*[f"{root}/segs/{s}/postings" for s in segs])
    dl = spark.read.parquet(*[f"{root}/segs/{s}/doclens" for s in segs])
    if tomb is not None:
        tf = tf.join(F.broadcast(tomb), "doc_id", "left_anti")
        dl = dl.join(F.broadcast(tomb), "doc_id", "left_anti")
    return (
        tf,
        dl,
        spark.read.parquet(f"{vpath}/termstats"),
        spark.read.parquet(f"{vpath}/stats"),
    )


def bm25_segmented_topk(
    spark,
    root: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
    version=None,
) -> DataFrame:
    """BM25 top-k served from the SEGMENTED store under ``root``: the
    postings scan of every live segment (term predicate pushed to each
    range-sorted file's footer), the doclens scan, the merged termstats
    filtered to the query terms, and the 1-row merged stats — the corpus
    text column is never read and nothing re-tokenizes, no matter how
    many admits built the index. Reads ``version`` (a resolved
    ``current_segments`` tuple) when given, else the current version.
    Scoring is the shared :func:`_bm25_score_topk` arithmetic, so the
    result is hash-equal to a full rebuild (registry twins pin it)."""
    if version is None:
        version = current_segments(spark, root, "bm25_segmented_topk")
    tf, dl, termstats, stats = _bm25_version_tables(spark, root, version)
    terms = [t.lower() for t in query_terms]
    return _bm25_score_topk(
        tf.filter(F.col("term").isin(terms)),
        termstats.filter(F.col("term").isin(terms)),
        dl, stats, k=k, k1=k1, b=b,
    )


def rm3_persisted_expansion_terms(
    spark,
    root: str,
    version,
    seed_terms: list[str],
    fb_k: int = 10,
    n_expand: int = 3,
    min_len: int = 4,
) -> list[str]:
    """RM3 expansion selection from ``version`` (a resolved
    ``current_segments`` tuple) of the segmented store under ``root``:
    the feedback docs' content-term counts are Σ tf over their postings
    rows — the identical number :func:`rm3_expansion_terms` gets by
    re-tokenizing the feedback documents, read instead from the index
    (token counts ARE what postings store). Zero text reads; the
    feedback semi-join is a ``fb_k``-row broadcast against the postings
    scan."""
    from ..functions.text import STOPWORDS

    seed = [t.lower() for t in seed_terms]
    fb_ids = bm25_segmented_topk(
        spark, root, seed, k=fb_k, version=version
    ).select("doc_id")
    excluded = set(seed) | set(STOPWORDS)
    counts = (
        _bm25_version_tables(spark, root, version)[0]
        .join(F.broadcast(fb_ids), "doc_id", "left_semi")
        .filter(F.length("term") >= min_len)
        .filter(~F.col("term").isin(sorted(excluded)))
        .groupBy("term")
        .agg(F.sum("tf").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(n_expand)
    )
    return [r.term for r in counts.collect()]


def bm25_rm3_persisted_topk(
    spark,
    root: str,
    seed_terms: list[str],
    k: int = 20,
    fb_k: int = 10,
    n_expand: int = 3,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Two-pass RM3 retrieval served ENTIRELY from the segmented store:
    seed pass, feedback-term selection, and expanded pass all read
    postings/termstats/doclens/stats — the corpus text column is never
    touched (vs :func:`bm25_rm3_topk`, which tokenizes twice). The store
    is resolved once, so both passes and the feedback count read the
    same version even across a concurrent publish. Value-equal to the
    recompute path by construction; the registry twin hash-checks it
    against the same oracle."""
    version = current_segments(spark, root, "bm25_rm3_persisted_topk")
    expansion = rm3_persisted_expansion_terms(
        spark, root, version, seed_terms, fb_k=fb_k, n_expand=n_expand
    )
    terms = [t.lower() for t in seed_terms] + expansion
    return bm25_segmented_topk(
        spark, root, terms, k=k, k1=k1, b=b, version=version
    )


def bm25_compact_segments(
    spark,
    root: str,
    retain: int = 2,
    fingerprint: "str | None" = None,
) -> str:
    """Lucene-style background COMPACTION for the segmented store: merge
    every live segment into ONE new range-sorted segment and publish the
    single-segment membership. Delta admission (:func:`bm25_admit_delta`)
    trades write cost for segment proliferation — every query scans one
    more file set per admit; compaction restores read amplification to
    one file set WITHOUT touching the text column (the postings/doclens
    ROWS are the source — the plan re-sorts index rows, it never
    re-tokenizes). The merged termstats/stats are carried forward
    unchanged: they describe the same corpus by the admit-time algebra.

    Readers are never broken: the old version (and its segments, which
    its membership still references) survives until retention GC ages it
    out — the standard crash-safe publish contract. Returns the new
    version path."""
    vpath, segs, tomb = current_segments(
        spark, root, "bm25_compact_segments"
    )
    seg, seg_path = new_segment(root)
    postings_src = spark.read.parquet(
        *[f"{root}/segs/{s}/postings" for s in segs]
    )
    doclens_src = spark.read.parquet(
        *[f"{root}/segs/{s}/doclens" for s in segs]
    )
    if tomb is not None:
        # fold tombstones out physically: the compacted segment holds
        # only survivors and the published version carries NO tombstone
        # table (termstats/stats were already delete-adjusted, so they
        # carry forward unchanged)
        postings_src = postings_src.join(
            F.broadcast(tomb), "doc_id", "left_anti"
        )
        doclens_src = doclens_src.join(
            F.broadcast(tomb), "doc_id", "left_anti"
        )
    (
        postings_src
        .repartitionByRange(8, "term")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("errorifexists")
        .parquet(f"{seg_path}/postings")
    )
    (
        doclens_src
        .write.mode("errorifexists")
        .parquet(f"{seg_path}/doclens")
    )
    # the new segment's algebraic partials ARE the current merged tables
    spark.read.parquet(f"{vpath}/termstats").write.mode(
        "errorifexists"
    ).parquet(f"{seg_path}/termstats")
    spark.read.parquet(f"{vpath}/stats").write.mode(
        "errorifexists"
    ).parquet(f"{seg_path}/stats")
    return publish_segments(
        spark, root, [seg], retain=retain, fingerprint=fingerprint,
        write_tables=_write_merged_stats(
            spark.read.parquet(f"{seg_path}/termstats"),
            spark.read.parquet(f"{seg_path}/stats"),
        ),
    )
