"""Deterministic k-means over embedding columns + semantic dedup.

SemDeDup (Abbas et al. 2023) prunes training corpora by clustering
embeddings and dropping near-duplicates *within* clusters — the cluster
assignment is exactly the block key that keeps the pairwise comparison from
going O(n²). The reference engine has no clustering surface; this module is
part of the LLM-pipeline extension charter (SURVEY.md §7.7).

The fit is ``pq.pq_fit`` with one subspace — the one Lloyd's loop in
the package:

- **assign** — per-row argmin over k centroid literals, each distance a
  JVM ``zip_with``/``aggregate`` fold parsed from the SQL text of
  ``pq._sqdist_sql`` (codegen, no Python, no shuffle). Ties break to the
  lowest centroid index via ``array_position``'s first-match semantics.
  :func:`assign_clusters` and the rebalance operators build their
  distance arrays from the same text.
- **update** — ``posexplode`` the vectors and aggregate per (cluster, dim)
  with ``decimal_mean``: decimal sums are ORDER-INDEPENDENT, so the
  centroids — and therefore every downstream assignment — are bit-identical
  across runs, partitionings, and cluster sizes. A double ``avg`` here
  would make the whole fit nondeterministic at the last ulp, which is
  exactly where argmin ties flip.
- the only driver-side state is the k×dim centroid table (bounded by model
  size, not data size) — the same footprint a 1000-executor run would have.

Each iteration is one scan of the persisted input + one (cluster,
dim)-keyed partial aggregation; ``n_iter`` is fixed (no convergence
collect), so the job graph is static.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .caching import tracked_persist
from .pq import _sqdist_sql, pq_fit
from .similarity import exact_sqdist


def _dists(vec_col: str, centroids: list[list[float]]) -> F.Column:
    """Array of squared-L2 distances from ``vec_col`` to each centroid."""
    return F.expr(_sqdist_sql(f"`{vec_col}`", centroids))


def assign_clusters(
    emb: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cluster",
    dist_col: str | None = None,
) -> DataFrame:
    """Add the argmin-centroid assignment column (0-based).

    One distance fold per centroid per row, all inside whole-stage codegen;
    ``array_position`` returns the FIRST minimum, so distance ties resolve
    to the lowest centroid index deterministically.
    """
    out = emb.withColumn("_dists", _dists(vec_col, centroids)).withColumn(
        out_col,
        (F.array_position(F.col("_dists"), F.array_min(F.col("_dists"))) - 1).cast(
            "int"
        ),
    )
    if dist_col is not None:
        out = out.withColumn(dist_col, F.array_min(F.col("_dists")))
    return out.drop("_dists")


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Fit k-means with deterministic seeding: the initial centroids are the
    vectors of the k smallest ids (k-means++ would need a random stream; a
    data-derived seed keeps the whole fit reproducible across engines and
    runs, which the driver's stability check requires).

    Returns the centroid table as plain Python lists (k × dim — model-sized,
    never data-sized). A cluster that receives no points keeps its previous
    centroid (standard Lloyd's degenerate-cluster handling). This is
    :func:`..pq.pq_fit` with one subspace.
    """
    return pq_fit(
        emb, m=1, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )[0]


def kmeans_predict(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, sq_dist) assignment table for a fitted model."""
    return assign_clusters(
        emb, centroids, vec_col=vec_col, dist_col="sq_dist"
    ).select(id_col, "cluster", "sq_dist")


def rebalance_fixpoint(
    emb: DataFrame,
    centroids: list[list[float]],
    cap_factor: float = 1.25,
    max_rounds: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bounded-round capacity rebalance: iterate the one-pass relief
    until no cell exceeds ``cap = ⌈cap_factor · n/k⌉`` or ``max_rounds``
    rounds have run.

    :func:`rebalance_overflow` is single-hop relief — its spill can
    itself overflow the receiving cell (the committed
    ``emb_ivf_rebalance_clustered`` readout shows exactly that: 186
    evictees all land on the shared second-nearest cell, 220 > cap 79).
    This variant runs the greedy cascade to quiescence: every row
    carries its full centroid PREFERENCE list (distances to all k
    centroids, ranked once — one scan, model-sized fold per row), and
    each round every cell keeps its ``cap`` closest current members and
    evicts the rest one step down their preference list. An eviction
    strictly advances a row's preference position (clamped at k−1), so
    the cascade terminates; with total capacity ``cap·k ≥ n`` a
    quiescent state exists, and ``max_rounds`` bounds the job graph
    regardless (fixed unroll — the SQL oracle replays the identical
    rounds, with post-quiescence rounds no-ops by construction).

    Plan shape per round: ONE window rank partitioned by current cell
    (+ the id tie-break) and a projection — no joins, no growth; the
    preference table is computed once and carried. Membership is
    conserved every round (rows only change cells). Driver state: the
    k×dim centroid list and a per-round 1-row stability probe.

    Returns (cell, n_primary, n_final, n_moved, cap, rounds, stable)
    per cell, ordered by cell: ``n_moved`` counts final members not in
    their primary cell; ``rounds`` is the configured bound; ``stable``
    is whether every cell ended ≤ cap.
    """
    from pyspark.sql import Window

    k = len(centroids)
    if k < 2:
        raise ValueError("rebalance_fixpoint needs >= 2 centroids")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    # preference list: (d, cell) structs sorted ascending — struct order
    # gives the d-then-lowest-cell tie-break the one-pass variant uses.
    # d is snapped to DECIMAL(15,9) (repo convention: never rank on raw
    # doubles — a one-ulp cross-engine sum difference at the rank==cap
    # boundary would flip the eviction set and diverge the cascade); the
    # oracle snaps identically before its row_number.
    pref = F.array_sort(
        F.expr(
            "transform(_dists, (d, i) -> struct("
            "CAST(round(d, 9) AS DECIMAL(15,9)) AS d, i AS cell))"
        )
    )
    state = tracked_persist(
        emb.select(F.col(id_col), F.col(vec_col))
        .withColumn("_dists", _dists(vec_col, centroids))
        .select(
            id_col,
            pref.alias("_pref"),
            F.lit(0).alias("_pos"),
        )
    )
    import math

    total = state.count()
    # 1.25·n/8 = 5n/32 is IEEE-exact, so this ceil is bit-identical to
    # the oracle's CAST(ceil(1.25 * n / 8) AS BIGINT)
    cap = int(math.ceil(cap_factor * total / k))
    cur_cell = F.element_at(F.col("_pref"), F.col("_pos") + 1)["cell"]
    cur_d = F.element_at(F.col("_pref"), F.col("_pos") + 1)["d"]
    for _ in range(max_rounds):
        w = Window.partitionBy(cur_cell).orderBy(cur_d, F.col(id_col))
        prev = state
        # re-persist each round: the stability probe materializes the new
        # state's cache, so the NEXT round's window chain (and the final
        # projection) read one cached table instead of replaying every
        # prior round's windows — O(rounds) passes, not O(rounds²)
        state = tracked_persist(
            state.withColumn("_rn", F.row_number().over(w)).select(
                id_col,
                "_pref",
                F.when(
                    (F.col("_rn") > F.lit(cap))
                    & (F.col("_pos") < F.lit(k - 1)),
                    F.col("_pos") + 1,
                )
                .otherwise(F.col("_pos"))
                .alias("_pos"),
            )
        )
        # bounded per-round probe: quiescent ⇒ every later round is a
        # no-op by construction, so stopping early is result-identical
        # to the oracle's fixed unroll (and it doubles as the action that
        # populates this round's cache)
        over = (
            state.groupBy(cur_cell.alias("_c"))
            .count()
            .filter(F.col("count") > cap)
            .limit(1)
            .count()
        )
        prev.unpersist()
        if over == 0:
            break
    final = state.select(
        id_col,
        F.col("_pref")[0]["cell"].alias("_prim"),
        cur_cell.alias("_final"),
    )
    finalp = tracked_persist(final)
    before = finalp.groupBy(F.col("_prim").alias("cell")).agg(
        F.count("*").cast("bigint").alias("n_primary")
    )
    after = finalp.groupBy(F.col("_final").alias("cell")).agg(
        F.count("*").cast("bigint").alias("n_final"),
        F.sum(F.when(F.col("_final") != F.col("_prim"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_moved"),
    )
    stable = after.agg(
        (F.max("n_final") <= F.lit(cap)).alias("_stable")
    )
    return (
        before.join(after, "cell", "full_outer")
        .crossJoin(F.broadcast(stable))
        .select(
            "cell",
            F.coalesce("n_primary", F.lit(0)).cast("bigint").alias("n_primary"),
            F.coalesce("n_final", F.lit(0)).cast("bigint").alias("n_final"),
            F.coalesce("n_moved", F.lit(0)).cast("bigint").alias("n_moved"),
            F.lit(cap).cast("bigint").alias("cap"),
            F.lit(max_rounds).cast("int").alias("rounds"),
            F.col("_stable").alias("stable"),
        )
        .orderBy("cell")
    )


def clustered_embeddings(
    emb: DataFrame,
    skew: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic mixture-of-Gaussians re-geometry of an embedding
    table — the fixture that lets the ANN machinery prove wins in the
    regime an IVF index is FOR (round-11 VERDICT #1).

    The driver's synthetic embeddings are near-uniform (distance
    concentration caps IVF probe recall at ~0.6 below exhaustive
    nprobe), so every recall number on them exercises the index where it
    can't help. This transform plants 8 well-separated components
    without any randomness, so both engines rebuild it bit-for-bit:

    - component: ``md5_hash60(vec_id) % 8`` (balanced), or with
      ``skew=True`` half the mass lands in component 0 and the rest
      spreads over 1..7 — the hot-cell fixture for capacity rebalance.
    - per-dim offset: ``(comp·13 + (i+1)·7) mod 17 − 8`` with i the
      0-based dim — an integer grid, injective across components in
      every dimension (13 is invertible mod 17), so inter-component
      squared distance across 64 dims dwarfs the shrunken intra spread.
    - value: ``x·0.25 + offset``. Both factors are IEEE-exact (float→
      double is exact, ×2⁻² is exact, adding an integer ≤8 to a ≤0.08-
      magnitude double is exact), so the fixture is reproducible in any
      engine with md5 — same contract as the rest of the hash family.

    Returns (vec_id, embedding array<double>, component); ``component``
    is the ground-truth mixture id (for diagnostics/tests — the index
    queries must discover structure with k-means, never read it).
    """
    from ..functions.scalars import md5_hash60

    h = md5_hash60(F.col(id_col).cast("string"))
    comp = (
        F.when(h % 2 == 0, F.lit(0)).otherwise((h % 7 + 1).cast("int"))
        if skew
        else (h % 8).cast("int")
    )
    # _comp is projected first so the transform lambda references a plain
    # attribute — closing over the md5 subtree would re-hash per element
    base = emb.select(
        F.col(id_col), F.col(vec_col).alias("_v"), comp.alias("component")
    )
    newvec = F.transform(
        F.col("_v"),
        lambda x, i: x.cast("double") * F.lit(0.25)
        + ((F.col("component") * 13 + (i + 1) * 7) % 17 - 8).cast("double"),
    )
    return base.select(id_col, newvec.alias(vec_col), "component")


def semantic_dedup_pairs(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow: bool = False,
    max_block_size: int | None = 1024,
    warn_on_truncation: bool = True,
) -> DataFrame:
    """SemDeDup: k-means the embeddings, then emit near-duplicate pairs
    *within* clusters only.

    The fitted assignment becomes the block key of
    :func:`..dedup.embedding_near_pairs`, so candidate generation is an
    equi-join on the cluster id — each executor compares only within-cluster
    pairs and the cross-cluster O(n²) never materializes. This is the
    data-driven replacement for that operator's precomputed ``label``
    column: at 100 TB the pipeline is fit (model-sized driver state) →
    assign (one scan) → blocked pair join (shuffles on cluster id).

    ``max_block_size`` (ON by default) hash-splits degenerate hot
    clusters — k-means routinely produces one catch-all cell on skewed
    data — before the pair join; see
    :func:`..dedup.embedding_near_pairs`. ``None`` opts out (the
    oracle-checked registry configuration).
    """
    from .dedup import embedding_near_pairs

    centroids = kmeans_fit(emb, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    assigned = assign_clusters(emb, centroids, vec_col=vec_col, out_col="_kcluster")
    return embedding_near_pairs(
        assigned,
        threshold=threshold,
        block_col="_kcluster",
        id_col=id_col,
        vec_col=vec_col,
        arrow=arrow,
        max_block_size=max_block_size,
        warn_on_truncation=warn_on_truncation,
    )


def semantic_dedup_rep_pairs(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow: bool = False,
) -> DataFrame:
    """SemDeDup with the identical-vector collapse: k-means assignment as
    the block key (the :func:`semantic_dedup_pairs` shape), then
    :func:`..dedup.representative_embedding_pairs` inside the fitted
    clusters — exact vector copies collapse to one representative per
    (cluster, vector) group BEFORE the pair scan and come back as
    multiplicity columns + 1.0 diagonals. Sound because the assignment is
    a deterministic function of the vector VALUE: copies always land in
    the same cluster, so the collapse never loses a within-cluster pair.
    The duplicate-heavy failure mode the raw form's ``max_block_size``
    cap mitigates (a dup-clique filling one cell) is removed at the
    source instead of capped."""
    from .dedup import representative_embedding_pairs

    centroids = kmeans_fit(emb, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    assigned = assign_clusters(emb, centroids, vec_col=vec_col, out_col="_kcluster")
    return representative_embedding_pairs(
        assigned,
        threshold=threshold,
        block_col="_kcluster",
        id_col=id_col,
        vec_col=vec_col,
        arrow=arrow,
    )


def kcenter_greedy(
    emb,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Greedy k-center (furthest-point) selection — the classic 2-approx
    coreset / diversity-sampling primitive (Gonzalez 1985; the selection
    step of diversity-aware data curation): seed with the lowest-id
    vector, then repeatedly pick the point FURTHEST from the chosen set
    (max over points of min-distance-to-centers, ties to the lowest id).

    Scale shape: each of the k−1 rounds is ONE scan computing the running
    min-distance (a codegen :func:`..similarity.exact_sqdist` fold against
    the newest center as a literal array) followed by a 1-row
    ``TakeOrderedAndProject`` collect — driver traffic is k rows
    (model-sized, the k-means-centroid contract); nothing quadratic ever
    forms.

    Cross-engine determinism: squared distances are exact decimal sums
    over DECIMAL(15,9)-snapped operands (order-independent), so the
    argmax and its tie-break reproduce bit-for-bit in the SQL oracle.

    Returns one row per chosen center: ``(pick, vec_id, min_dist)`` —
    ``min_dist`` is the (6dp-rounded, squared L2) distance to the
    previously chosen set at selection time; NULL for the seed.
    """
    spark = emb.sparkSession
    df = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("x"))

    def dist_to(center_vals: list) -> F.Column:
        return exact_sqdist(F.col("x"), F.lit([float(v) for v in center_vals]))

    seed_rows = df.orderBy("id").limit(1).collect()
    if not seed_rows:
        raise ValueError("kcenter_greedy: input has no rows")
    seed = seed_rows[0]
    picks = [(1, int(seed["id"]), None)]
    centers = [seed["x"]]
    prev = None
    # try/finally so the live persisted round frame(s) are released even
    # when a round raises (the k-exceeds-rows ValueError, or a collect
    # failure) — a long-lived session must not accumulate leaked caches
    # from failed fits (round-14 ADVICE); unpersist on a never-persisted
    # frame is a no-op, so the finally is safe on every path.
    try:
        for t in range(2, k + 1):
            # persist + let the argmax collect materialize it: ONE job per
            # round where localCheckpoint + collect was two. The previous
            # round's cache is released once the new one is materialized
            # (its data was folded into this round's dmin); lineage depth
            # grows by one select per round — model-sized k keeps that flat.
            d = dist_to(centers[-1])
            df = df.select(
                "id",
                "x",
                (d if t == 2 else F.least(F.col("dmin"), d)).alias("dmin"),
            ).persist()
            nxt_rows = (
                df.filter(~F.col("id").isin([p[1] for p in picks]))
                .orderBy(F.col("dmin").desc(), F.col("id"))
                .limit(1)
                .collect()
            )
            if prev is not None and prev is not df:
                prev.unpersist()
            prev = df
            if not nxt_rows:
                raise ValueError(
                    f"kcenter_greedy: k={k} exceeds the number of distinct "
                    f"input rows ({len(picks)} available)"
                )
            nxt = nxt_rows[0]
            picks.append((t, int(nxt["id"]), nxt["dmin"]))
            centers.append(nxt["x"])
    finally:
        if prev is not None:
            prev.unpersist()
        df.unpersist()
    from decimal import ROUND_HALF_UP, Decimal

    q6 = Decimal("0.000001")
    rows = [
        (
            p,
            i,
            None
            if d is None
            else float(Decimal(d).quantize(q6, rounding=ROUND_HALF_UP)),
        )
        for p, i, d in picks
    ]
    return spark.createDataFrame(
        rows, "pick int, vec_id long, min_dist double"
    )


def rebalance_overflow(
    emb: DataFrame,
    centroids: list[list[float]],
    cap_factor: float = 1.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-pass hot-cell relief for an IVF/k-means assignment: members of
    an over-capacity cell beyond ``cap = ceil(cap_factor · n/k)`` spill
    to their SECOND-nearest centroid.

    The follow-through on ``diagnostics.cell_balance``: a hot cell is a
    hot task per probe at serving time, and the standard mitigation is
    capacity-aware assignment (multi-probe writes / balanced k-means).
    This is the deterministic one-hop variant: each cell keeps its
    ``cap`` CLOSEST members (rank by distance, id tie-break — the
    members reassignment would hurt most) and spills the tail once;
    second hops are not capped (documented single-pass relief, not an
    equilibrium solver — rerun to tighten).

    Plan shape: one assignment scan computes the full distance vector
    per row (codegen folds), primary and second-nearest come from the
    same array (no second scan), the overflow rank is a window
    partitioned by the primary cell, and the readout is two grid-sized
    aggregates joined on cell id.  The ranked table is persisted — it
    feeds both the before and after rollups.

    Returns (cell, n_primary, n_final, n_in, n_out, cap) per cell,
    ordered by cell.
    """
    from pyspark.sql import Window

    k = len(centroids)
    if k < 2:
        raise ValueError("rebalance_overflow needs >= 2 centroids")
    prim = (F.array_position(F.col("_dists"), F.array_min(F.col("_dists"))) - 1).cast("int")
    # second nearest: mask the primary slot to +inf, argmin again
    masked = F.expr(
        "transform(_dists, (d, i) -> CASE WHEN i = _prim THEN"
        " CAST('Infinity' AS DOUBLE) ELSE d END)"
    )
    assigned = (
        emb.select(F.col(id_col), F.col(vec_col))
        .withColumn("_dists", _dists(vec_col, centroids))
        .withColumn("_prim", prim)
        .withColumn("_pd", F.array_min(F.col("_dists")))
        .withColumn("_masked", masked)
        .withColumn(
            "_second",
            (F.array_position(F.col("_masked"), F.array_min(F.col("_masked"))) - 1).cast("int"),
        )
        .select(id_col, "_prim", "_pd", "_second")
    )
    total = assigned.agg(F.count("*").alias("_n"))
    w = Window.partitionBy("_prim").orderBy(F.col("_pd"), F.col(id_col))
    ranked = tracked_persist(
        assigned.crossJoin(F.broadcast(total))
        .withColumn("_cap", F.ceil(F.lit(float(cap_factor)) * F.col("_n") / F.lit(k)).cast("long"))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "final",
            F.when(F.col("_rn") <= F.col("_cap"), F.col("_prim")).otherwise(
                F.col("_second")
            ),
        )
    )
    before = ranked.groupBy(F.col("_prim").alias("cell")).agg(
        F.count("*").cast("bigint").alias("n_primary"),
        F.sum(F.when(F.col("final") != F.col("_prim"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_out"),
    )
    after = ranked.groupBy(F.col("final").alias("cell")).agg(
        F.count("*").cast("bigint").alias("n_final"),
        F.sum(F.when(F.col("final") != F.col("_prim"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_in"),
    )
    cap_row = total.select(
        F.ceil(F.lit(float(cap_factor)) * F.col("_n") / F.lit(k))
        .cast("bigint")
        .alias("cap")
    )
    return (
        before.join(after, "cell", "full_outer")
        .crossJoin(F.broadcast(cap_row))
        .select(
            "cell",
            F.coalesce("n_primary", F.lit(0)).cast("bigint").alias("n_primary"),
            F.coalesce("n_final", F.lit(0)).cast("bigint").alias("n_final"),
            F.coalesce("n_in", F.lit(0)).cast("bigint").alias("n_in"),
            F.coalesce("n_out", F.lit(0)).cast("bigint").alias("n_out"),
            "cap",
        )
        .orderBy("cell")
    )
