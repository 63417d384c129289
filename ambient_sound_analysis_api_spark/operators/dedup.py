"""Deduplication operators for training-data pipelines.

Four families, each designed around its shuffle profile at 100 TB:

- **exact / fingerprint dedup** — one hash-groupBy shuffle on a 32-byte key;
  map-side partial aggregation makes this scan-bound.
- **n-gram Jaccard near-dup** — shingle → explode → self-join *on shingle*
  (never an all-pairs cross join); candidate pairs are bounded by shared
  shingles, then Jaccard is computed from intersection counts.
- **MinHash + LSH** — per-doc signature (k hashes over shingles, all
  JVM-side via ``xxhash64``), banded into LSH buckets; only docs sharing a
  band bucket are compared. The all-pairs O(n²) never materializes.
- **SimHash** — 64-bit weighted-bit vote over token hashes; near-dups share
  simhash up to a small Hamming distance, found via band-equality blocking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint,
    kr_window_hashes,
    normalize_text,
    token_ngram_hashes,
    token_ngrams,
    tokens,
)
from .caching import tracked_persist

# Default hot-shingle (boilerplate) document-frequency cap for the shingle
# self-join family. Candidate volume is O(df²) per distinct shingle, so one
# shared header repeated across 10⁶ pages costs 10¹² pairs; df > 1000 means
# ≤ ~500k pairs from any single shingle (a single-task unit) and, on real
# corpora, identifies boilerplate rather than signal. df-count caps are
# exactly expressible in SQL, so oracle replay keeps the capped form
# hash-checked (unlike the xxhash64 block split in similarity.knn_graph).
DEFAULT_MAX_SHINGLE_DF = 1000


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on raw text hash: keep the lowest id per md5(text).

    Deterministic winner selection (min id) instead of ``dropDuplicates``
    (which keeps an arbitrary row) so results are stable across runs and
    engines.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def fingerprint_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Normalized-fingerprint dedup: md5 over normalized text (case/whitespace
    folded) — catches trivially re-formatted copies exact dedup misses."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def _shingle_universe(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    max_shingle_df: int | None,
):
    """Shared candidate machinery for the shingle-join near-dup family:
    distinct hashed per-doc shingles plus per-doc set sizes, with the
    optional hot-shingle (boilerplate) cap applied to BOTH.

    Caches the COMPACT per-doc shingle arrays (one row per doc), not the
    exploded table, then inverts them ONCE into the per-shingle posting
    groups ``(shingle, ids)`` every consumer reads (pair generation via
    :func:`_pair_intersections` and, under the cap, the per-doc sizes).
    Under the cap, sizes must reflect the reduced universe, so they come
    from the persisted groups; uncapped they are ``F.size(arr)`` — no
    shuffle. Returns ``(groups(shingle, ids), sizes(id, n_shingles))``;
    the persists are tracked and released via
    ``operators.caching.release_caches``.

    The hot-shingle cap stays TWO-phase (df count + broadcast anti-join
    BEFORE the posting-list aggregation) even though the group size could
    express the same filter: a boilerplate shingle at corpus scale has df
    in the millions, and building its posting array only to discard it
    would put an unbounded row through the aggregate. The count pass
    shuffles only map-side partial counts; posting arrays are built
    solely for shingles already under the cap (≤ cap ids each)."""
    arrs = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(token_ngram_hashes(F.col(text_col), n)).alias("_arr"),
    )
    arrs = tracked_persist(arrs)
    shingles = arrs.select("id", F.explode(F.col("_arr")).alias("shingle"))
    if max_shingle_df is not None:
        # persisted: tiny (only shingles with df > cap survive)
        hot = tracked_persist(
            shingles.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
        )
        shingles = shingles.join(F.broadcast(hot), "shingle", "left_anti")
    # persisted: the posting groups feed pair generation AND (under the
    # cap) the sizes aggregate — one exchange keyed on the shingle
    # replaces the former self-join's TWO exchanges of the same exploded
    # table plus its join (guide §2.3/§2.4: shuffle the candidate rows
    # once, not once per join side; measured 2.53 s → 1.82 s warm on the
    # sf0.1 jaccard pass). ``array_sort`` makes in-row pair emission
    # deterministic and already ordered (id_a < id_b by construction).
    groups = tracked_persist(
        shingles.groupBy("shingle").agg(
            F.array_sort(F.collect_list("id")).alias("ids")
        )
    )
    if max_shingle_df is not None:
        # reduced-universe sizes come from the SAME anti-joined shingle
        # stream the posting groups aggregate (identical row set — the
        # groups are its collect_list), not from re-exploding the groups:
        # one aggregation over cached-arrs + broadcast-anti rows instead
        # of posting-array explode + shuffle. Persisted (doc-count rows,
        # two longs each) because BOTH size joins (sa/sb) build separate
        # broadcasts — unpersisted, the sizes shuffle ran once per side
        # (round-15; guide §2.4 shared-work).
        sizes = tracked_persist(
            shingles.groupBy("id").agg(F.count("*").alias("n_shingles"))
        )
    else:
        sizes = arrs.select("id", F.size(F.col("_arr")).alias("n_shingles"))
    return groups, sizes


def _pair_intersections(groups: DataFrame) -> DataFrame:
    """Candidate-pair intersection counts ``(id_a, id_b, inter)`` with
    ``id_a < id_b`` from the per-shingle posting groups: each group emits
    its ordered in-row combinations (C(df, 2) structs, bounded by the
    hot-shingle cap — the documented single-task unit), and one
    aggregation keyed on the pair counts shared shingles. Replaces the
    former shingle self-equi-join: same pairs, same counts, one exchange
    of the candidate rows instead of two plus a join. The combinations
    stream through a two-step explode (position, then suffix slice) so a
    group never materializes its whole C(df, 2) pair set in one value —
    per-row peak is one ≤ df-element slice."""
    pairs = groups.select(
        F.posexplode("ids").alias("_i", "id_a"), F.col("ids")
    ).select(
        "id_a",
        F.explode(
            F.slice(
                F.col("ids"),
                F.col("_i") + F.lit(2),
                F.size("ids") - F.col("_i") - F.lit(1),
            )
        ).alias("id_b"),
    )
    return pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Near-duplicate pairs by token-n-gram Jaccard similarity.

    Plan shape: distinct (id, shingle) → self-equi-join on shingle → count
    intersections per pair → Jaccard = inter / (|A| + |B| - inter). The join
    key is the shingle, so co-occurring docs meet without a cross join; the
    pair aggregation is the only O(candidate-pairs) stage.

    Shingles are hashed to 64-bit (``xxhash64``) before the join: the
    shuffle moves 8-byte longs instead of multi-word strings (~3× fewer
    bytes at 100 TB) and the equality probe is an integer compare. A hash
    collision would merge two shingles for one pair's intersection count —
    probability ~(rows²)/2⁶⁵, ignored by design (and deterministic:
    xxhash64 is a fixed function, so results are stable run-to-run).

    Candidate volume is O(df²) per distinct shingle (df = how many docs
    carry it). On boilerplate-heavy corpora — the realistic 100 TB case,
    where headers/footers/templates repeat across millions of pages — that
    quadratic blows up on exactly the shingles that carry no discriminating
    signal. ``max_shingle_df`` removes shingles shared by more than that
    many docs from the *entire* computation (candidates AND set sizes), so
    the result is exact Jaccard over the reduced, discriminating shingle
    universe: identical docs still score 1.0, while pairs similar only
    through boilerplate drop out — the standard stop-shingle trade-off.

    **Uncapped-path warning** (``max_shingle_df=None``): beyond output
    volume, the grouped posting-list candidate generator materializes ONE
    ``ids`` array per distinct shingle — a shingle carried by N docs
    becomes a single N-element array value in one aggregation task, and
    that task alone then streams out all C(N, 2) candidate pairs. At
    boilerplate df in the millions that is a multi-GB single row and a
    one-task quadratic stage: the opt-out is for corpora KNOWN to be
    boilerplate-free (or pre-collapsed), not a general exactness upgrade
    (round-14 ADVICE; the capped path never builds arrays over the cap).

    The cap is ON by default (``DEFAULT_MAX_SHINGLE_DF`` = 1000: pair
    fan-out per shingle is bounded at ~500k, a single-task unit) because
    the blowup is the failure a naive caller hits first on real corpora —
    the 10×-boilerplate probe in NOTES.md measured the uncapped default
    path going quadratic, mirroring the ``knn_graph`` ``max_block_size``
    default flip. The cap is df-count based, hence exactly expressible in
    portable SQL: the registry oracles replay the same ``df > cap``
    shingle removal, so the capped form stays hash-checked. Pass
    ``max_shingle_df=None`` to opt out (full-universe exact form).

    Returns ``(id_a, id_b, jaccard)`` with id_a < id_b, jaccard ≥ threshold.
    """
    groups, sizes = _shingle_universe(
        df, n, text_col, id_col, max_shingle_df
    )
    inter = _pair_intersections(groups)
    # both size joins broadcast the SAME bare sizes frame (aliased, not
    # re-projected): the two broadcast subtrees canonicalize equal, so
    # ReuseExchange builds the relation once — the former per-side
    # rename projections made the subtrees distinct and paid two
    # broadcast-build jobs for one table (round-15, guide §2.4)
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    na, nb = F.col("sa.n_shingles"), F.col("sb.n_shingles")
    return (
        inter.join(F.broadcast(sa), F.col("id_a") == F.col("sa.id"))
        .join(F.broadcast(sb), F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (na + nb - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def doc_representatives(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate membership table: ``(id, rep_id, n_copies)`` —
    every document tagged with the min-id representative of its
    md5(text) group and the group's copy count. One hash-partition pass
    (a window over the content hash); the exact-copy EDGE set is the
    ``id != rep_id`` subset. This is the collapse step the scale-safe
    near-dup composition starts from."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col)))
    return df.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("rep_id"),
        F.count("*").over(w).alias("n_copies"),
    )


def representative_near_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Scale-safe near-duplicate pairs: collapse exact copies FIRST, run
    the token-n-gram Jaccard shingle join on one representative per
    distinct text, and report multiplicities instead of materializing
    the copy-expanded pair set.

    The raw pair operators (:func:`ngram_jaccard_pairs`,
    :func:`minhash_lsh_pairs`) are output-quadratic in duplication by
    CONTRACT: a corpus where every doc has 9 exact copies emits ~100×
    the true-pair rows (measured 93× wall on the 10×-dup probe,
    NOTES.md round 8) — every copy-pair meets on every shared shingle.
    This operator is the production composition (previously buried
    inside ``pipeline_leakage_safe_split``): exact copies share
    identical shingle sets, so Jaccard between any two docs equals
    Jaccard between their representatives, and the doc-level pair set
    factors exactly into (rep-pair) × (copy multiplicities).

    Output — one row per REPRESENTATIVE pair, never per doc pair:

    - ``id_a < id_b`` rows: cross-group near-dup pairs with the rep-level
      ``jaccard`` and ``n_expanded = n_copies_a · n_copies_b`` (how many
      doc-level pairs the row stands for);
    - ``id_a == id_b`` rows (the diagonal): within-group exact-copy
      cliques — ``jaccard`` 1.0, ``n_expanded = C(n_copies, 2)`` —
      emitted only when the group has ≥ 2 copies AND its representative
      retains ≥ 1 shingle under the cap (a shingle-less doc pairs with
      nothing in the raw operator either).

    Together the rows partition the raw operator's output exactly:
    :func:`expand_representative_pairs` reconstructs it row-for-row
    (equivalence unit-tested), while Σ ``n_expanded`` answers the usual
    question (how much duplication) at O(distinct-text) cost.

    ``max_shingle_df`` counts document frequency over REPRESENTATIVES —
    boilerplate is measured across distinct texts, not inflated by copy
    counts (the same universe ``pipeline_leakage_safe_split``'s oracle
    replays). Columns: ``(id_a, id_b, jaccard, n_copies_a, n_copies_b,
    n_expanded)``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col)))
    tagged = df.select(
        F.col(id_col),
        F.col(text_col),
        F.min(id_col).over(w).alias("_rep"),
        F.count("*").over(w).alias("_nc"),
    )
    # persisted: reps feeds the shingle universe AND the multiplicity
    # table (ma/mb/diag below) — without it each consumer re-runs the
    # corpus-wide md5 window (4 window executions in the r14
    # before-plan; one distinct-text-sized cache removes 3 of them)
    reps = tracked_persist(
        tagged.filter(F.col(id_col) == F.col("_rep")).select(
            id_col, text_col, F.col("_nc").alias("n_copies")
        )
    )
    groups, sizes = _shingle_universe(
        reps, n, text_col, id_col, max_shingle_df
    )
    inter = _pair_intersections(groups)
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("nb"))
    pairs = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    mult = reps.select(F.col(id_col), F.col("n_copies"))
    ma = mult.select(
        F.col(id_col).alias("id_a"), F.col("n_copies").alias("n_copies_a")
    )
    mb = mult.select(
        F.col(id_col).alias("id_b"), F.col("n_copies").alias("n_copies_b")
    )
    cross = (
        pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            "n_copies_a",
            "n_copies_b",
            (F.col("n_copies_a") * F.col("n_copies_b"))
            .cast("long")
            .alias("n_expanded"),
        )
    )
    diag = (
        mult.filter(F.col("n_copies") >= 2)
        .join(
            # n_shingles > 0: the uncapped sizes table carries
            # zero-shingle docs (F.size of an empty array), which pair
            # with nothing in the raw operator
            sizes.filter(F.col("n_shingles") > 0)
            .select(F.col("id").alias(id_col)),
            id_col,
            "left_semi",
        )
        .select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(1.0).alias("jaccard"),
            F.col("n_copies").alias("n_copies_a"),
            F.col("n_copies").alias("n_copies_b"),
            (F.col("n_copies") * (F.col("n_copies") - 1) / 2)
            .cast("long")
            .alias("n_expanded"),
        )
    )
    return cross.unionByName(diag)


def expand_representative_pairs(
    rep_pairs: DataFrame,
    membership: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "jaccard",
) -> DataFrame:
    """Expand :func:`representative_near_pairs` output back to doc-level
    ``(id_a, id_b, <score_col>)`` pairs via the :func:`doc_representatives`
    membership table — the inverse of the collapse, row-for-row equal to
    the raw :func:`ngram_jaccard_pairs` output at the same (n, threshold,
    shingle-universe) configuration. ``score_col`` names the carried score
    (``jaccard`` for the shingle family, ``cosine_sim`` for
    :func:`representative_embedding_pairs` — identical algebra either way).

    DELIBERATELY output-proportional (two equi-joins on rep ids): this is
    the operation whose cost the collapsed form exists to avoid — call it
    only when doc-level pairs are genuinely required downstream."""
    ma = membership.select(
        F.col("rep_id").alias("id_a"), F.col(id_col).alias("_da")
    )
    mb = membership.select(
        F.col("rep_id").alias("id_b"), F.col(id_col).alias("_db")
    )
    return (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .filter(
            (F.col("id_a") != F.col("id_b")) | (F.col("_da") < F.col("_db"))
        )
        .select(
            F.least("_da", "_db").alias("id_a"),
            F.greatest("_da", "_db").alias("id_b"),
            score_col,
        )
    )


def representative_clusters(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    max_iter: int = 25,
) -> DataFrame:
    """Scale-safe near-duplicate CLUSTER assignment — the default-shaped
    composition of collapse-first dedup with connected components.

    The raw pipeline (``ngram_jaccard_pairs`` → ``graph.
    connected_components``) is input-quadratic in duplication by the pair
    contract: a 10-copy clique contributes ~45× the edges, and the
    round-9 10×-dup probe measured the raw ``dedup_clusters`` at 75×
    wall. But clustering never needs the copy-expanded edge set: exact
    copies share identical shingle sets, so Jaccard between any two docs
    equals Jaccard between their min-id representatives, every copy of a
    doc lands in its representative's component, and the component's
    minimum doc id IS the minimum representative id (representatives are
    group minima). So:

    1. one content-hash window tags each doc with its exact-copy
       representative (the :func:`doc_representatives` collapse);
    2. the shingle join + min-label propagation run over REPRESENTATIVES
       only — cost bounded by distinct-text count, not corpus count;
    3. one membership equi-join expands cluster ids back to every doc.

    Output ``(id_col, cluster_id)`` is row-for-row identical to the raw
    pipeline whenever the two share a shingle universe (``max_shingle_df``
    here counts document frequency over representatives — the
    distinct-text universe ``representative_near_pairs`` and
    ``pipeline_leakage_safe_split`` use; the raw default counts over all
    copies, so on corpora where the cap binds differently the
    representative universe is the better-behaved one — boilerplate
    measured across distinct texts, not inflated by copy counts), with
    ONE deliberate improvement: exact copies of a SHINGLE-LESS doc
    (fewer than ``n`` tokens — no shingles, hence invisible to the
    Jaccard graph) cluster together here via the content-hash membership,
    where the raw pipeline leaves each copy a singleton. Identical texts
    are duplicates regardless of whether the shingle representation can
    see them; both behaviors (equality on shingled corpora, the merge on
    shingle-less copies) are unit-pinned in
    ``tests/test_round10_scale.py``.
    """
    from pyspark.sql import Window

    from .graph import connected_components

    w = Window.partitionBy(F.md5(F.col(text_col)))
    tagged = tracked_persist(
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.min(id_col).over(w).alias("_rep"),
        )
    )
    reps = tagged.filter(F.col(id_col) == F.col("_rep")).select(
        id_col, text_col
    )
    edges = ngram_jaccard_pairs(
        reps,
        n=n,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
        max_shingle_df=max_shingle_df,
    )
    cc = connected_components(
        edges, reps.select(id_col), node_col=id_col, max_iter=max_iter
    )
    # expansion: corpus-sized membership ⋈ distinct-text-sized labels on
    # the rep id — AQE broadcasts the label side when it is small enough
    return tagged.select(F.col(id_col), F.col("_rep")).join(
        cc.select(F.col(id_col).alias("_rep"), F.col("cluster_id")), "_rep"
    ).select(F.col(id_col), F.col("cluster_id"))


def vector_representatives(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Exact-duplicate membership over BIT-IDENTICAL vectors: ``(id,
    rep_id, n_copies)`` — every row tagged with the min-id representative
    of its (block, vector) group. The embedding analog of
    :func:`doc_representatives`; one window shuffle partitioned by the
    vector value itself (array columns hash/compare element-wise, so no
    stringified fingerprint is needed — and none would be float-portable).

    ``block_col`` keeps the collapse WITHIN pair-generation blocks: two
    bit-identical vectors in different blocks are never compared by the
    blocked pair operators, so collapsing them together would invent
    cross-block pairs at expansion time."""
    from pyspark.sql import Window

    parts = ([F.col(block_col)] if block_col is not None else []) + [
        F.col(vec_col)
    ]
    w = Window.partitionBy(*parts)
    return emb.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("rep_id"),
        F.count("*").over(w).alias("n_copies"),
    )


def representative_embedding_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow: bool = False,
    max_block_size: int | None = None,
) -> DataFrame:
    """Scale-safe embedding-cosine near-duplicate pairs: collapse
    bit-identical vectors (within their block) to one min-id
    representative BEFORE the within-block pair scan, and report copy
    multiplicities instead of materializing the copy-expanded pair set —
    the embedding analog of :func:`representative_near_pairs`.

    The raw :func:`embedding_near_pairs` is output-quadratic in
    duplication by contract (the round-9 10×-dup probe read 42×, entirely
    true-pair volume), and exact copies of a vector are the degenerate
    case: cosine is a function of the vector VALUES, so every copy-pair
    repeats its representatives' score. Collapsing first makes the pair
    stage's cost a function of distinct-(block, vector) count.

    Output — one row per representative pair:

    - ``id_a < id_b`` rows: cross-group pairs with the representative
      ``cosine_sim`` and ``n_expanded = n_copies_a · n_copies_b``;
    - ``id_a == id_b`` diagonal rows: within-group identical-copy cliques
      (``cosine_sim`` 1.0, ``n_expanded = C(n_copies, 2)``), emitted only
      for groups of ≥ 2 copies with a NONZERO vector. Cosine is undefined
      for the all-zero vector: the raw operator RAISES ``DIVIDE_BY_ZERO``
      under ANSI mode the moment a zero vector meets any candidate — this
      form instead collapses an all-zero copy clique to one lone
      representative (which, alone, meets nothing) and emits no diagonal
      for it, so the degenerate-but-real crawl case (empty docs embed to
      zero) degrades to "no pairs" instead of a failed stage. A zero
      vector sharing a block with OTHER vectors still raises in the pair
      scan, same as raw (unit-pinned).

    :func:`expand_representative_pairs` (with ``score_col='cosine_sim'``)
    reconstructs the raw pair set row-for-row (equivalence unit-pinned).
    ``max_block_size`` defaults to ``None`` here (exact within-block
    semantics — the SQL-replayable form); the collapse itself is the
    capacity fix for the duplicate-heavy failure mode the cap guards.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(F.col(block_col), F.col(vec_col))
    tagged = tracked_persist(
        emb.select(
            F.col(id_col),
            F.col(block_col),
            F.col(vec_col),
            F.min(id_col).over(w).alias("_rep"),
            F.count("*").over(w).alias("_nc"),
        )
    )
    reps = tagged.filter(F.col(id_col) == F.col("_rep")).select(
        F.col(id_col),
        F.col(block_col),
        F.col(vec_col),
        F.col("_nc").alias("n_copies"),
    )
    pairs = embedding_near_pairs(
        reps.select(id_col, block_col, vec_col),
        threshold=threshold,
        block_col=block_col,
        id_col=id_col,
        vec_col=vec_col,
        arrow=arrow,
        max_block_size=max_block_size,
        warn_on_truncation=False,
    )
    mult = reps.select(F.col(id_col), F.col("n_copies"))
    ma = mult.select(
        F.col(id_col).alias("id_a"), F.col("n_copies").alias("n_copies_a")
    )
    mb = mult.select(
        F.col(id_col).alias("id_b"), F.col("n_copies").alias("n_copies_b")
    )
    cross = (
        pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            "id_a",
            "id_b",
            "cosine_sim",
            "n_copies_a",
            "n_copies_b",
            (F.col("n_copies_a") * F.col("n_copies_b"))
            .cast("long")
            .alias("n_expanded"),
        )
    )
    nonzero = F.exists(F.col(vec_col), lambda x: x != F.lit(0.0))
    diag = (
        reps.filter((F.col("n_copies") >= 2) & nonzero)
        .select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(1.0).alias("cosine_sim"),
            F.col("n_copies").alias("n_copies_a"),
            F.col("n_copies").alias("n_copies_b"),
            (F.col("n_copies") * (F.col("n_copies") - 1) / 2)
            .cast("long")
            .alias("n_expanded"),
        )
    )
    return cross.unionByName(diag)


#: 2^61 - 1 (Mersenne prime): modulus of the portable MinHash family.
MINHASH_MOD = (1 << 61) - 1

# One family member — the classic ``a·x + c mod p`` MinHash permutation with
# p = 2^61−1 — as SQL over the 60-bit base hash column ``h0``. Identical
# text evaluates identically in Spark and DuckDB: pure signed-64-bit
# arithmetic with every intermediate < 2^62 (no overflow on
# overflow-checking engines, no wraparound on silent ones).
#
# The 91-bit product a·h0 is reduced with the Mersenne fold
# x·2^61 + y ≡ x + y (mod 2^61−1):
#   a·h0 = (a·hi)·2^30 + a·lo          (h0 = hi·2^30 + lo, both 30-bit)
#   (a·hi)·2^30 = p1·2^61 + p0·2^30 ≡ p1 + p0·2^30
#                                       (p = a·hi ≤ 2^60; p1 = p>>31 ≤ 2^29,
#                                        p0 = p & (2^31−1) so p0·2^30 < 2^61)
# A plain ``a·hi + b·lo + c`` WITHOUT the fold is NOT a usable family: the
# sum never exceeds the modulus, so the map is order-preserving and every
# member's argmin lands on the same "small" shingles — signatures of
# unrelated docs collide and near-dup signatures miss (observed: 5× the
# candidate pairs at sf0.001 AND a dropped true near-dup pair).
#
# The shifts are spelled as FUNCTIONS (shiftright/shiftleft), not
# operators: it is the only spelling the parser accepts inside
# array(...)/struct(...) calls, where ``>>``/``<<`` collide with
# generic-type brackets.
_MINHASH_MEMBER_FN_SQL = (
    "(shiftright({a} * shiftright(h0, 30), 31)"
    " + shiftleft(({a} * shiftright(h0, 30)) & 2147483647, 30)"
    " + {a} * (h0 & 1073741823) + {c}) % "
    f"{MINHASH_MOD}"
)


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic 30-bit (a, c) coefficients for the MinHash family,
    drawn from md5 of the member index — derivable in any engine/language,
    no RNG state. ``a`` is forced odd (a unit mod the Mersenne prime)."""
    import hashlib

    out = []
    for i in range(num_hashes):
        digest = hashlib.md5(f"minhash:{i}".encode()).hexdigest()
        a = (int(digest[:8], 16) % (1 << 30)) | 1
        c = int(digest[16:24], 16) % (1 << 30)
        out.append((a, c))
    return out


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per doc: k independent hash minima over shingles.

    Engine-portable hash family: each shingle is first collapsed to a
    60-bit md5 base hash ``h0`` (``md5_hash60`` — the same
    hash-before-shuffle trick as ``ngram_jaccard_pairs``: 8-byte longs
    move, not strings; a collision merges two shingles with probability
    ~|shingles|²/2⁶¹, ignored by design and REPRODUCED by the oracle,
    which hashes the same way). Family member i is then the affine map

        ``h_i = (a_i·h0 + c_i) mod (2⁶¹−1)``

    evaluated via a Mersenne fold of the 90-bit product (split h0 into
    30-bit halves, fold the high partial product ``a·(h0>>30)·2³⁰`` back
    under the prime — see ``_MINHASH_MEMBER_FN_SQL``; a single coefficient
    ``a`` multiplies BOTH halves, there is no independent high-half
    coefficient). 30-bit constants ``(a_i, c_i)`` are drawn from md5
    (``minhash_coeffs``). Every intermediate term stays under 2⁶² so the
    arithmetic is exact in plain signed 64-bit —
    no overflow, hence bit-identical in ANY engine with BIGINT (DuckDB
    recomputes identical signatures; a per-member md5 chain was ~4.5×
    slower for the same portability). The k minima are ordinary
    hash-aggregate ``min`` columns: fully whole-stage-codegen, map-side
    partial aggregation, one shuffle keyed by doc id. (A per-row
    ``transform``+``array_min`` formulation is an order of magnitude slower
    — higher-order functions run interpreted per element.) Output:
    ``(id, sig array<long> length k)``. Docs with no shingles get no row.
    """
    from ..functions.scalars import md5_hash60
    from ..functions.text import token_ngrams

    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(token_ngrams(F.col(text_col), n))
        ).alias("shingle"),
    ).select("id", md5_hash60(F.col("shingle")).alias("h0"))
    # the k minima and the signature array ride ONE parsed expression —
    # building 32 separate agg Columns plus a 32-element F.array cost
    # ~0.8 s of py4j plumbing per invocation (measured), for an
    # identical aggregate plan. Shift ops use the function forms
    # (shiftright/shiftleft): inside array(...) the parser reads ``>>``
    # as generic-type syntax and rejects the operator spelling.
    members = ",".join(
        "min(" + _MINHASH_MEMBER_FN_SQL.format(a=a, c=c) + ")"
        for a, c in minhash_coeffs(num_hashes)
    )
    return exploded.groupBy("id").agg(
        F.expr(f"array({members})").alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH candidate pairs + estimated Jaccard from signature agreement.

    Signatures are split into ``bands`` bands of ``num_hashes // bands``
    rows; docs sharing any full band land in the same bucket (equi-join on
    ``(band_idx, band_hash)``). Estimated Jaccard = fraction of matching
    signature positions, filtered at ``threshold`` (an exact k/num_hashes
    binary fraction — identical as a double in any engine). Band hashes
    use the portable md5 family over the comma-joined signature slice, so
    the bucketing — not just the output — is oracle-reproducible.
    """
    # signature computation (k× array_min over hashed shingles) is the
    # expensive stage and is consumed by banding plus both sides of the
    # estimate join: materialize once. The table is one small row per doc
    # (id + k longs), so it broadcasts.
    sigs = tracked_persist(minhash_signatures(df, num_hashes, n, text_col, id_col))

    banded = _band_signatures(sigs, num_hashes, bands)

    a = banded.alias("a")
    b = banded.alias("b")
    # candidates are bare id pairs — nothing wide moves through this
    # shuffle. Kept as a self-equi-join deliberately: the grouped
    # posting-list form that won for the shingle family
    # (_pair_intersections) measured consistently SLOWER here (2.55 s vs
    # 2.08 s best-of-4, same session) — band buckets are overwhelmingly
    # singletons, so the collect_list aggregation pays ObjectHashAggregate
    # overhead on 8×n rows without reducing any join volume.
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # shared broadcast of the bare signature frame (aliased twins
    # canonicalize equal → ReuseExchange builds the relation once; the
    # former per-side rename projections paid two broadcast-build jobs)
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    est = F.size(
        F.filter(
            F.zip_with(
                F.col("sa.sig"), F.col("sb.sig"), lambda x, y: x == y
            ),
            lambda eq: eq,
        )
    ) / F.lit(float(num_hashes))
    return (
        cand.join(F.broadcast(sa), F.col("id_a") == F.col("sa.id"))
        .join(F.broadcast(sb), F.col("id_b") == F.col("sb.id"))
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= F.lit(threshold))
    )


def _band_signatures(
    sigs: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_hash) LSH banding of a signature table — the
    standing-index layout: one row per (doc, band), keyed by the portable
    md5 band hash so any engine rebuilds identical buckets."""
    rows_per_band = num_hashes // bands
    # one parsed expression for the whole band array: the per-band
    # Column-DSL construction (struct + md5 chain per band) was pure
    # py4j plumbing; the parsed tree is identical (md5_hash60 inlined:
    # cast(conv(substring(md5(x),1,15),16,10) as bigint))
    structs = []
    for bi in range(bands):
        parts = ",".join(
            f"cast(sig[{bi * rows_per_band + r}] as string)"
            for r in range(rows_per_band)
        )
        h = (
            "cast(conv(substring(md5(concat_ws(',', "
            f"{parts})), 1, 15), 16, 10) as bigint)"
        )
        structs.append(
            f"named_struct('band_idx', {bi}, 'band_hash', {h})"
        )
    return sigs.select(
        "id",
        F.explode(F.expr("array(" + ",".join(structs) + ")")).alias("band"),
    ).select("id", "band.band_idx", "band.band_hash")


def incremental_minhash_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-batch NEAR-duplicate admission — the MinHash analog of
    :func:`incremental_dedup` and the near-dup member of the engine's
    daily-delta family (exact-dup: ``incremental_dedup``; ANN:
    ``pq.ivfpq_delta_index``): the NEW batch's banded signatures probe
    the STANDING corpus band index plus themselves, and the corpus never
    self-joins.

    That asymmetry is the scale property: per ingest batch, candidate
    work is O(batch-band rows × matching bucket sizes), not
    O(corpus²) — the standing index is read-only (in production it is a
    precomputed table bucketed by ``band_hash``, appended after
    admission; here both signature tables are computed in-plan, which
    changes cost, not semantics — MinHash signatures are per-doc, so a
    precomputed index is bit-identical to computing on the subset).

    Emits one row per candidate pair at estimated Jaccard ≥ ``threshold``
    where AT LEAST ONE side is new: ``(id_a, id_b, side, est_jaccard)``
    with ``id_a < id_b`` and ``side`` ∈ ``cross`` (new vs corpus) /
    ``batch`` (both new) — ``cross`` rows are the "reject or link"
    admission signal, ``batch`` rows the within-delta dedup.

    Id contract (ADVICE round-10): ``new_df`` and ``corpus_df`` ids
    SHOULD be disjoint — a delta batch re-submitting an already-admitted
    id is a pipeline bug upstream, not a near-dup question. The operator
    still defends against it: corpus signatures are anti-joined against
    the new batch's ids before any union, so an overlapping id
    contributes exactly one signature row (the NEW one wins — it is the
    version being admitted) instead of duplicating candidate-pair rows
    with conflicting ``est_jaccard`` values.
    """
    sigs_new = tracked_persist(
        minhash_signatures(new_df, num_hashes, n, text_col, id_col)
    )
    sigs_corpus = tracked_persist(
        minhash_signatures(corpus_df, num_hashes, n, text_col, id_col)
        .join(
            new_df.select(F.col(id_col).alias("id")), "id", "left_anti"
        )
    )
    nb = _band_signatures(sigs_new, num_hashes, bands)
    allb = _band_signatures(sigs_new, num_hashes, bands).withColumn(
        "is_new", F.lit(True)
    ).unionByName(
        _band_signatures(sigs_corpus, num_hashes, bands).withColumn(
            "is_new", F.lit(False)
        )
    )
    a = nb.alias("a")
    b = allb.alias("b")
    # new side drives the probe; within-batch pairs arrive in both
    # orientations and collapse in the normalize+distinct below
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            F.col("b.is_new").alias("_bn"),
        )
        .groupBy("id_a", "id_b")
        # a pair is 'batch' iff BOTH sides are new — i.e. the matched
        # b-side was new in every (equivalently any) matched orientation
        # where b is the partner; min(bool) survives the both-orientation
        # duplication of within-batch pairs
        .agg(F.min("_bn").alias("_both_new"))
    )
    sa = sigs_new.unionByName(sigs_corpus).select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a")
    )
    sb = sigs_new.unionByName(sigs_corpus).select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b")
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ) / F.lit(float(num_hashes))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(F.col("_both_new"), F.lit("batch"))
            .otherwise(F.lit("cross"))
            .alias("side"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= F.lit(threshold))
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document over whitespace tokens.

    Each token contributes ±1 per bit position of its hash; the sign of
    the per-bit sum forms the fingerprint. The token hash is the portable
    md5 family (bits 0..59 from hex chars 1-15, bits 60..63 from chars
    16-19), so the fingerprint — and the Hamming pairs built on it —
    reproduces exactly in the DuckDB oracle. Entirely JVM-side: the
    per-bit votes are ``bits`` aggregate columns over the exploded tokens —
    one shuffle of map-side-combined partials (one row per doc per
    partition), never a ``bits``× row explosion (the naive per-(id, bit)
    vote explode shuffles 64× the token count; this form shuffles just the
    doc count). Near-dup docs differ in a few bits (Hamming distance).

    Bit 63's weight is the signed two's-complement value −2⁶³ (a plain
    literal added in, never ``1 << 63`` — which signed-overflow-checking
    engines reject), so the packed BIGINT is bit-identical across engines.
    """
    from ..functions.scalars import md5_hash60

    if bits != 64:
        raise ValueError("portable simhash is fixed at 64 bits")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("tok"),
    )
    h = toks.select(
        "id",
        md5_hash60(F.col("tok")).alias("hlo"),
        F.conv(F.substring(F.md5("tok"), 16, 4), 16, 10)
        .cast("long")
        .alias("hhi"),
    )

    def vote(i: int):
        src = F.col("hlo") if i < 60 else F.col("hhi")
        sh = i if i < 60 else i - 60
        return F.when(
            F.shiftright(src, sh).bitwiseAND(1) == 1, 1
        ).otherwise(-1)

    sums = h.groupBy("id").agg(
        *[F.sum(vote(i)).alias(f"b{i}") for i in range(bits)]
    )
    fingerprint_bits = [
        F.when(
            F.col(f"b{i}") > 0,
            F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(bits)
    ]
    acc = fingerprint_bits[0]
    for fb in fingerprint_bits[1:]:
        acc = acc + fb
    return sums.select("id", acc.alias("simhash"))


def hamming_near_pairs(
    sim: DataFrame, max_dist: int = 3, max_bucket_size: int | None = None
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius, via band blocking.

    The 64-bit fingerprint is split into ``max_dist + 1`` bands; by
    pigeonhole, any pair within ``max_dist`` bits shares at least one exact
    band → equi-join on (band_idx, band_value), then exact popcount filter.

    Candidates are O(bucket²) per band bucket. ``max_bucket_size`` skips
    buckets larger than the cap — on dup-heavy corpora those are giant
    duplicate clusters (better collapsed by exact/fingerprint dedup first)
    or degenerate bands, and they dominate runtime while contributing
    little beyond what exact dedup already finds. Default ``None`` = exact
    pigeonhole guarantee (the driver-checked configuration).
    """
    nbands = max_dist + 1
    width = 64 // nbands
    banded = sim.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND((1 << width) - 1)
                        .alias("band_val"),
                    )
                    for i in range(nbands)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", "b.band_idx", "b.band_val")
    banded = tracked_persist(banded)  # reused by both self-join sides
    if max_bucket_size is not None:
        big = (
            banded.groupBy("band_idx", "band_val")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") > max_bucket_size)
            .select("band_idx", "band_val")
        )
        banded = banded.join(
            F.broadcast(big), ["band_idx", "band_val"], "left_anti"
        )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_dist
    )


def embedding_near_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow: bool = False,
    max_block_size: int | None = 1024,
    warn_on_truncation: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within coarse blocks.

    The all-pairs O(n²) comparison never materializes: candidates are
    generated by an equi-join on ``block_col`` (a cluster/centroid
    assignment — at scale, produced by k-means or LSH bucketing), so the
    join shuffles on the block key and each executor compares only
    within-block pairs. The cosine is a JVM higher-order-function fold
    (``similarity.cosine``) — no Python in the hot path.

    Emits ``(id_a, id_b, cosine_sim)`` with ``id_a < id_b`` and
    ``round(cosine, 4) >= threshold`` (rounding makes the threshold cut
    reproducible across engines whose summation order differs).

    ``arrow=True`` scores candidate pairs with an Arrow-batched numpy
    kernel instead of the JVM higher-order-function fold — ~1.5× faster on
    64-dim vectors and the gap widens with dimensionality (HOF lambdas run
    interpreted per element; numpy runs SIMD over the whole batch). Same
    pairs either way (equality unit-tested); the JVM path stays the default
    because its sequential fold is the bit-exact shape the SQL oracle
    replicates.

    **Capacity bound** (``max_block_size``, ON by default): within-block
    pair work is O(size²), so one hot block (a degenerate cluster label, a
    catch-all LSH bucket) quadratically dominates the stage — the same
    failure the 10×-dup probe measured on ``similarity.knn_graph`` before
    its default flip. Oversized blocks are hash-split into ⌈size/max⌉
    sub-blocks before the self-join, restoring linear cost at fixed cap;
    the price is losing pairs that land in sibling sub-blocks (the IVF
    nlist recall-for-cost trade). Pass ``max_block_size=None`` for exact
    within-block semantics — the oracle-checked registry configuration,
    where the split's ``xxhash64`` would not be SQL-portable.

    Because the split silently trades recall, ``warn_on_truncation=True``
    (the :func:`..similarity.knn_graph` contract) counts oversized blocks
    up front and emits a one-time ``UserWarning`` when the cap engages.
    NOTE: the check is an EAGER ``count()`` over block sizes — this
    builder triggers one small Spark job at call time (block-count-sized,
    one shuffle over the block key). Callers composing plans without
    executing them should pass ``warn_on_truncation=False`` to keep the
    call fully lazy (the cap still applies; only the heads-up is skipped).
    """
    from .similarity import dot, l2_norm

    if max_block_size is not None:
        sizes = emb.groupBy(block_col).agg(F.count("*").alias("_bn"))
        if warn_on_truncation:
            # same one-time heads-up contract as similarity.knn_graph: the
            # hash split silently trades recall, so pre-cap callers learn
            # the cap engaged instead of discovering missing pairs later
            import warnings

            n_over = sizes.filter(F.col("_bn") > max_block_size).count()
            if n_over:
                warnings.warn(
                    f"embedding_near_pairs: {n_over} block(s) exceed "
                    f"max_block_size={max_block_size} and were hash-split;"
                    " pairs across sibling sub-blocks are not scored "
                    "(bounded recall loss). Pass max_block_size=None for "
                    "exact within-block semantics.",
                    UserWarning,
                    stacklevel=2,
                )
        nsub = F.greatest(
            F.lit(1), F.ceil(F.col("_bn") / F.lit(float(max_block_size)))
        )
        emb = (
            emb.join(sizes, block_col)  # count table: AQE broadcasts it
            .withColumn(
                "_blk2",
                F.concat_ws(
                    "#",
                    F.col(block_col).cast("string"),
                    F.pmod(F.xxhash64(F.col(id_col)), nsub).cast("string"),
                ),
            )
            .drop("_bn")
        )
        block_col = "_blk2"

    # Precompute the L2 norm per vector (O(n) folds) so each candidate pair
    # costs ONE array fold (the dot product) instead of three — at 200k
    # within-block pairs of 64-dim vectors that's the dominant cost.
    a = emb.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        l2_norm(F.col(vec_col)).alias("_na"),
    )
    b = emb.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        l2_norm(F.col(vec_col)).alias("_nb"),
    )
    if arrow:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        # no type hints: `from __future__ import annotations` stringifies
        # them, which PySpark's pandas-UDF signature inference rejects
        @pandas_udf("double")
        def _cos_batch(va, vb):
            A = np.stack(va.to_numpy()).astype(np.float64)
            B = np.stack(vb.to_numpy()).astype(np.float64)
            dp = np.einsum("ij,ij->i", A, B)
            na = np.sqrt(np.einsum("ij,ij->i", A, A))
            nb = np.sqrt(np.einsum("ij,ij->i", B, B))
            return pd.Series(np.round(dp / (na * nb), 4))

        sim = _cos_batch(F.col("_va"), F.col("_vb"))
    else:
        sim = F.round(
            dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 4
        )
    return (
        a.join(b, ["_blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def repeated_span_stats(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level (span) duplication signal: for each document, how
    many of its distinct token ``n``-gram spans also occur in at least one
    OTHER document, and what fraction of its spans that is.

    This is the aggregate form of suffix-array training-data dedup
    (find repeated substrings across the corpus, then cut or down-weight
    them): a span repeated across documents is exactly an ``n``-gram whose
    document frequency is >= 2. Suffix arrays find *maximal* repeats; the
    fixed-``n`` shingle form is the scalable Spark-native approximation —
    every repeat of length >= n tokens is detected (as a run of duplicated
    n-grams), with no global sort and no per-node suffix structure.

    Plan (two shuffles, shingling computed once):

    1. distinct span hashes per doc (``xxhash64`` over zipped token tuples,
       all JVM-side), exploded → persisted (both consumers below re-read it);
    2. ``groupBy(span)`` → document frequency — map-side partial counts, so
       the wire carries one (hash, count) per distinct span per partition,
       not one row per occurrence;
    3. join the exploded frame back on the span hash (AQE handles hot
       boilerplate spans via skew-join splitting; the frequency side is
       span-distinct and thus far smaller than the occurrence side), then a
       final ``groupBy(doc)``.

    Docs with fewer than ``n`` tokens have no spans and report zero with
    ``dup_fraction`` 0.0 (left join back to the full doc list).
    """
    sh = tracked_persist(
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(token_ngram_hashes(F.col(text_col), n))
            ).alias("span_h"),
        )
    )
    # distinct per doc → count(*) per span == number of docs containing it
    span_df = sh.groupBy("span_h").agg(F.count("*").alias("span_docs"))
    per_doc = (
        sh.join(span_df, "span_h")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("span_docs") >= 2).cast("long")).alias("n_dup_spans"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.when(
                F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0.0)
            )
            .otherwise(
                F.round(
                    F.col("n_dup_spans").cast("double") / F.col("n_spans"), 4
                )
            )
            .alias("dup_fraction"),
        )
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-batch (incremental) dedup: admit only new-batch docs whose
    normalized fingerprint is absent from the existing corpus, then collapse
    within-batch copies to a deterministic min-id winner.

    This is the steady-state shape of a production ingest loop: the corpus
    side is a fingerprint *store* (one 32-byte md5 per retained doc), not
    the documents themselves, so the anti-join moves keys only. Plan: both
    sides hash-partition on ``fp`` for a shuffled left-anti join; at 100 TB
    the store should be written bucketed by ``fp`` so the anti-join
    co-locates with zero shuffle on the (much larger) historical side and
    only the new batch moves. No ``distinct`` on the corpus side — anti
    joins are duplicate-tolerant, and the extra shuffle would be pure cost.

    Returns one row per *new* fingerprint: (fp, keep_id, n_batch_copies).
    """
    fp_new = new_df.select(
        fingerprint(F.col(text_col)).alias("fp"), F.col(id_col)
    )
    fp_corpus = corpus_df.select(fingerprint(F.col(text_col)).alias("fp"))
    return (
        fp_new.join(fp_corpus, "fp", "left_anti")
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_batch_copies"),
        )
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """ASYMMETRIC near-dup: directed pairs where one doc's n-gram shingle
    set is (mostly) contained in another's — containment(A→B) =
    |A∩B| / |A|. Jaccard misses exactly these (a tweet quoted inside a
    long article scores near-zero Jaccard but containment 1.0), and
    quote/subset detection is its own curation signal: drop the fragment,
    keep the superset.

    Same candidate machinery as :func:`ngram_jaccard_pairs` (distinct
    hashed shingles → self-equi-join, never a cross join); the only
    difference is the denominator and that both directions of a candidate
    pair are scored, so the output is directed (contained, container).
    ``max_shingle_df`` is the same boilerplate-quadratic cap as in
    :func:`ngram_jaccard_pairs` — hot shingles (shared by more docs than
    the cap) leave the computation entirely, candidates and denominators
    alike, keeping containment exact over the reduced shingle universe.
    Like the Jaccard form, the cap defaults ON (``DEFAULT_MAX_SHINGLE_DF``)
    and is replayed by the SQL oracle; ``None`` opts out — subject to the
    same uncapped-path skew/memory warning as :func:`ngram_jaccard_pairs`
    (one N-element posting array and a one-task C(N, 2) pair stream per
    df-N boilerplate shingle).

    The intersection count is symmetric, so it is aggregated ONCE over
    ``id_a < id_b`` candidates (halving the dominant self-join/aggregation
    shuffle) and both directed scores derive from that single count."""
    groups, sizes = _shingle_universe(
        df, n, text_col, id_col, max_shingle_df
    )
    inter = _pair_intersections(groups)
    # shared broadcast of the bare sizes frame — see ngram_jaccard_pairs
    # (the aliased twins canonicalize equal, ReuseExchange builds once)
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    scored = inter.join(
        F.broadcast(sa), F.col("id_a") == F.col("sa.id")
    ).join(F.broadcast(sb), F.col("id_b") == F.col("sb.id"))
    # both directions emitted from ONE pass via a 2-element explode — a
    # unionByName of two selects would re-execute the candidate join per
    # branch (Spark shares no common subplans across union branches; the
    # dedup_clusters round-5 root cause)
    both = F.array(
        F.struct(
            F.col("id_a").alias("contained"),
            F.col("id_b").alias("container"),
            (F.col("inter") / F.col("sa.n_shingles").cast("double")).alias(
                "containment"
            ),
        ),
        F.struct(
            F.col("id_b").alias("contained"),
            F.col("id_a").alias("container"),
            (F.col("inter") / F.col("sb.n_shingles").cast("double")).alias(
                "containment"
            ),
        ),
    )
    return (
        scored.select(F.explode(both).alias("p"))
        .select("p.contained", "p.container", "p.containment")
        .filter(F.col("containment") >= F.lit(threshold))
    )


def block_dedup_rebuild(
    df: DataFrame,
    block_tokens: int = 10,
    max_df: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet/RefinedWeb-style duplicated-block removal WITH document
    reconstruction: split each document into disjoint ``block_tokens``-token
    blocks, drop every block that occurs in more than ``max_df`` distinct
    documents (corpus boilerplate: headers, footers, license blurbs), and
    re-assemble the surviving blocks in original order into ``clean_text``.

    This differs from ``repeated_span_stats`` (a per-doc *signal*) in that
    it performs the actual removal + rebuild — the mutate step of a
    line-dedup pass (CCNet dedups paragraph hashes; the synthetic corpus
    has no newlines, so disjoint token blocks stand in for lines).

    Plan (scan → one count shuffle → anti-join → one rebuild shuffle):

    1. per-doc block array computed once and persisted (``tracked_persist``)
       — ``posexplode`` of an inline ``transform(sequence(...))`` would
       re-evaluate the array builder per OUTPUT row (the Generate
       re-evaluation trap, NOTES.md round-5), turning O(n) slicing into
       O(n·n/bt) per doc;
    2. block document-frequency over ``xxhash64(block)`` (8-byte keys on
       the wire, map-side partial counts); the over-frequent set is
       anti-joined back — no broadcast hint, AQE picks broadcast when the
       boilerplate set is small and falls back to a shuffle join when a
       pathological corpus makes it large;
    3. rebuild via ``array_sort(collect_list(struct(pos, blk)))`` — one
       groupBy(doc) shuffle; per-group state is bounded by document size.

    Docs whose every block is boilerplate come back with ``n_kept`` 0 and
    an empty ``clean_text`` (left join from the full doc list). Dedup is by
    64-bit block hash: results agree with a string-keyed oracle modulo
    xxhash64 collisions (the accepted ``pipeline_decontaminate`` design).
    """
    bt = int(block_tokens)
    base = df.select(
        F.col(id_col),
        tokens(normalize_text(F.col(text_col))).alias("_toks"),
    ).select(
        F.col(id_col),
        F.expr(
            f"transform(sequence(0, CAST(ceil(size(_toks) / {bt}.0) AS INT) - 1), "
            f"b -> array_join(slice(_toks, b * {bt} + 1, {bt}), ' '))"
        ).alias("_blocks"),
    )
    base = tracked_persist(base)
    ex = base.select(
        F.col(id_col), F.posexplode("_blocks").alias("pos", "blk")
    ).withColumn("blk_h", F.xxhash64("blk"))
    hot = (
        ex.groupBy("blk_h")
        .agg(F.count_distinct(F.col(id_col)).alias("bdf"))
        .filter(F.col("bdf") > max_df)
        .select("blk_h")
    )
    kept = ex.join(hot, "blk_h", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("_nk"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "blk"))),
                lambda s: s["blk"],
            ),
            " ",
        ).alias("_ct"),
    )
    return (
        base.select(F.col(id_col), F.size("_blocks").cast("long").alias("n_blocks"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_blocks"),
            F.coalesce(F.col("_nk"), F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce(F.col("_ct"), F.lit("")).alias("clean_text"),
        )
    )


def chunk_doc_reconcile(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk→document dedup reconciliation — the DECISION layer a crawl
    pipeline runs between chunk-level dedup and corpus materialization:
    chunk verdicts (is this window's content duplicated across
    documents?) roll up to a per-document keep/drop decision with
    representative election, so heavily-duplicated documents drop
    WITHOUT the corpus losing the content (its canonical holder keeps
    it).

    Per document: ``n_chunks`` (stride-``stride`` windows of
    ``chunk_tokens`` tokens, the ``pipeline_chunk_windows`` chunking),
    ``n_dup_chunks`` (chunks whose exact content occurs in >1 distinct
    document), ``frac_dup``, ``rep_id`` (the smallest doc id among ALL
    documents sharing any duplicated chunk with this one — computed as
    min-over-chunks of each chunk's min-holder, so it needs no pair
    join), and ``decision``:

    - ``keep``      — ``frac_dup`` < ``threshold``: mostly original;
    - ``keep_rep``  — above threshold but THE canonical holder
      (``doc_id == rep_id``) of its shared content;
    - ``drop``      — above threshold and the content's canonical holder
      is some other (smaller-id) document.

    Election is one-hop (min over directly shared chunks), the decision
    rule production reconciliation uses; transitive clustering is the
    ``dedup_clusters`` family's job. Scale shape: one explode (scan-
    shaped chunking), one groupBy(chunk hash) with map-side partial
    aggregation, one equi-join back, one groupBy(doc) — every stage
    linear in chunk instances, NO pair join, so a 10×-duplicated corpus
    costs 10× (each chunk group aggregates 10 rows; nothing is
    quadratic in copy count).

    Determinism: chunk identity is the md5 of the exact window text;
    ``frac_dup`` divides exact integers (identical doubles on both
    engines) and the threshold compares those doubles.
    """
    from .caching import tracked_persist

    ct, st = int(chunk_tokens), int(stride)
    # chunks feeds BOTH the per-hash stats groupBy and the join back —
    # Spark shares no common subplans across references, so without the
    # persist the tokenize+window-explode+md5 corpus scan runs twice
    chunks = tracked_persist(
        df.select(
            F.col(id_col),
            tokens(normalize_text(F.col(text_col))).alias("_toks"),
        )
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(0, greatest(size(_toks) - 1, 0), {st}),"
                    f" s -> md5(array_join(slice(_toks, s + 1, {ct}), ' ')))"
                )
            ).alias("chunk_md5"),
        )
    )
    stats = chunks.groupBy("chunk_md5").agg(
        F.count_distinct(F.col(id_col)).alias("_nd"),
        F.min(F.col(id_col)).alias("_rep"),
    )
    enr = chunks.join(stats, "chunk_md5")
    dup = F.col("_nd") > 1
    roll = enr.groupBy(id_col).agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias("n_dup_chunks"),
        F.min(F.when(dup, F.col("_rep"))).alias("rep_id"),
    )
    frac = F.col("n_dup_chunks").cast("double") / F.col("n_chunks").cast(
        "double"
    )
    return roll.select(
        F.col(id_col),
        "n_chunks",
        "n_dup_chunks",
        F.round(frac, 6).alias("frac_dup"),
        "rep_id",
        F.when(frac < F.lit(float(threshold)), F.lit("keep"))
        .when(F.col(id_col) == F.col("rep_id"), F.lit("keep_rep"))
        .otherwise(F.lit("drop"))
        .alias("decision"),
    )


def kr_gram_positions(
    d: DataFrame,
    L: int,
    id_col: str = "doc_id",
    text_col: str = "_t",
    carry: "tuple[str, ...]" = (),
) -> DataFrame:
    """Karp-Rabin L-gram position stream: one row per gram start offset,
    ``(id, carry..., o, kh)`` with ``kh`` the polynomial hash of the
    L-gram starting at 1-based char offset ``o`` — computed in ONE
    Arrow-batched pass of O(n) vectorized integer math per document
    (the shared ``functions.text.kr_window_hashes`` kernel, the
    one ``rolling_hash``/``min_gram_hash`` use).
    No L-char substring is ever materialized and the emitted key is an
    8-byte long. Equal strings always collide; unequal ones with ~n²/2³¹
    probability — consumers that need exactness md5-verify ONLY the
    ≥2-count / cross-matched candidates (see
    :func:`exact_substring_spans`,
    ``contamination.substring_decontaminate``)."""
    id_type = d.schema[id_col].dataType.simpleString()
    carry_types = {c: d.schema[c].dataType.simpleString() for c in carry}

    def _kr(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            keep = pdf[pdf[text_col].str.len() >= L]
            if keep.empty:
                continue
            khs = list(kr_window_hashes(keep[text_col].tolist(), L))
            npos = [len(g) for g in khs]
            out = {c: np.repeat(keep[c].to_numpy(), npos) for c in (id_col, *carry)}
            out["o"] = np.concatenate(
                [np.arange(1, m + 1, dtype=np.int32) for m in npos]
            )
            out["kh"] = np.concatenate(khs)
            yield pd.DataFrame(out)

    schema = ", ".join(
        [f"{id_col} {id_type}"]
        + [f"{c} {carry_types[c]}" for c in carry]
        + ["o int", "kh long"]
    )
    return d.mapInPandas(_kr, schema=schema)


def exact_substring_spans(
    docs: DataFrame,
    min_len: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal character spans covered by a duplicated substring of
    length ≥ ``min_len`` — the exact-substring dedup family of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), whose reference implementation is a corpus-wide suffix
    array.

    Spark-first reformulation, EXACT for coverage semantics: a character
    lies inside some duplicated substring of length ≥ L **iff** some
    duplicated L-gram covers it (any length-≥L duplicate contains an
    L-window over each of its characters, and a duplicated L-gram is
    itself such a substring). So the suffix array is replaced by:

    1. every length-L gram as (md5(gram), doc, offset) — one row per
       character position, LINEAR in corpus size (no suffix sort);
    2. grams occurring ≥ 2 times anywhere (cross- or within-doc, the
       Lee et al. counting) found by ONE combiner-friendly group-by on
       the hash;
    3. per-doc interval union of the surviving L-windows via a
       doc-partitioned gap-and-island window (two linear passes).

    The position stream is produced by a KARP-RABIN rolling hash
    (round-13 VERDICT #4 — previously documented, now the shipped
    default): one Arrow-batched pass computes every position's
    polynomial gram hash in O(n) vectorized integer math (prefix sums
    of ``c_j·B^{-j} mod 2³¹−1``, power tables built by binary
    exponentiation — no L-char substring is ever materialized and the
    shuffled key is an 8-byte long, not a 32-char md5). Positions whose
    KR hash occurs ≥ 2 times anywhere are CANDIDATES — a superset of
    the true duplicates (equal strings always collide; unequal ones
    collide with ~n²/2³¹ probability) — and ONLY candidates get the
    md5-of-substring verification, so the final ≥2 counting runs on
    verified-exact md5 keys and the result (and the SQL oracle, which
    replays the md5 counting bit-for-bit) is IDENTICAL to the old
    md5-every-position path at a fraction of its hash/shuffle cost.

    Returns (doc_id, span_start, span_end) with 1-based inclusive char
    offsets, one row per maximal span.
    """
    from pyspark.sql import Window

    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    L = int(min_len)
    d = docs.select(F.col(id_col), F.col(text_col).alias("_t"))
    grams = kr_gram_positions(d, L, id_col=id_col, text_col="_t")
    # ONE pass over the position stream: the occurrence count is an
    # unordered window over the hash partition, so the corpus is
    # hashed once and shuffled once (8-byte keys)
    wk = Window.partitionBy("kh")
    cand = (
        grams.withColumn("_n", F.count("*").over(wk))
        .filter(F.col("_n") >= 2)
        .select(id_col, "o")
    )
    # md5 verification ONLY on the candidate positions: every true
    # duplicate's whole group survives the KR filter intact, so ≥2
    # counting over candidate md5s equals ≥2 counting over the corpus
    ver = cand.join(d, id_col).select(
        id_col, "o", F.md5(F.expr(f"substring(_t, o, {L})")).alias("h")
    )
    wh = Window.partitionBy("h")
    seeds = (
        ver.withColumn("_n", F.count("*").over(wh))
        .filter(F.col("_n") >= 2)
        .select(id_col, "o")
    )
    w = Window.partitionBy(id_col).orderBy("o")
    brk = F.when(F.col("o") > F.lag("o").over(w) + F.lit(L), 1).otherwise(0)
    isl = seeds.withColumn("_b", brk).withColumn(
        "_island",
        F.sum("_b").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy(id_col, "_island").agg(
        F.min("o").alias("span_start"),
        (F.max("o") + F.lit(L - 1)).alias("span_end"),
    ).select(id_col, "span_start", "span_end")


def exact_substring_dedup(
    docs: DataFrame,
    min_len: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove every character covered by a duplicated ≥ ``min_len``
    substring (:func:`exact_substring_spans`) and rebuild each document
    from its kept segments — the whole-corpus exact-substring dedup
    pass a crawl pipeline runs before training.

    The rebuild never explodes characters: each doc's spans fold into a
    single ``aggregate`` over the (len/L-bounded) sorted span list,
    concatenating the inter-span substrings — a codegen projection, so
    the only shuffles are the span pipeline's hash group-by and the
    per-doc span collect.

    Returns (doc_id, orig_len, n_spans, n_removed, kept_len, kept_text)
    ordered by doc_id; documents without duplicated spans pass through
    intact, fully-covered documents come back empty (the caller drops
    or keeps them by ``kept_len``).
    """
    spans = exact_substring_spans(
        docs, min_len=min_len, id_col=id_col, text_col=text_col
    )
    return rebuild_without_spans(
        docs, spans, id_col=id_col, text_col=text_col
    )


def rebuild_without_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fold a ``(id, span_start, span_end)`` removal list out of each
    document — the shared rebuild tail of :func:`exact_substring_dedup`
    (self-duplicated spans) and
    ``contamination.substring_decontaminate`` (benchmark-contaminated
    spans). Same contract: span-fold concat of inter-span segments, one
    codegen projection, no char explode; docs without spans pass through
    intact, fully-covered docs come back empty."""
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans"),
        F.count("*").alias("n_spans"),
        F.sum(
            F.col("span_end") - F.col("span_start") + 1
        ).alias("n_removed"),
    )
    d = docs.select(F.col(id_col), F.col(text_col).alias("_t"))
    joined = d.join(per_doc, id_col, "left").select(
        id_col,
        "_t",
        F.coalesce(
            "_spans",
            F.expr(
                "CAST(array() AS "
                "ARRAY<STRUCT<span_start: INT, span_end: INT>>)"
            ),
        ).alias("_spans"),
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
    )
    # substring with COLUMN offsets is SQL-level, so the whole fold is
    # one expression: walk the sorted spans, emitting the text between
    # the cursor and each span start, then the tail after the last span
    kept = F.expr(
        "aggregate(_spans, struct(1 AS pos, '' AS s), "
        "(acc, sp) -> struct(sp.span_end + 1 AS pos, "
        "concat(acc.s, substring(_t, acc.pos, sp.span_start - acc.pos)) "
        "AS s), "
        "acc -> concat(acc.s, substring(_t, acc.pos, length(_t) - acc.pos + 1)))"
    )
    return joined.select(
        id_col,
        F.length("_t").cast("bigint").alias("orig_len"),
        "n_spans",
        "n_removed",
        F.length(kept).cast("bigint").alias("kept_len"),
        kept.alias("kept_text"),
    ).orderBy(id_col)
