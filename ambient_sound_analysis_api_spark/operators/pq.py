"""Product quantization (PQ) for embedding corpora.

The memory math that makes 100 TB ANN serving possible: a 64-dim float32
vector is 256 bytes; its PQ code (m=4 subspaces × 1 byte) is 4 bytes — a
64× compression that turns a petabyte-scale vector corpus into something
executors can hold and scan. Jégou et al., "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011) is the public reference; this is the
pipeline-side fit/encode plus the ADC (asymmetric distance computation)
scan.

Scale shape:

- **fit**: m independent k-means fits over dimension slices, fused into
  one Lloyd's loop (deterministic lowest-id seeding, order-independent
  DECIMAL centroid means), so the whole model is bit-reproducible and
  even SQL-expressible (the registry oracle unrolls all m fits as
  chained CTEs). ``clustering.kmeans_fit`` is this loop at m=1. Model
  size is m × k × d_sub floats — driver-resident by design.
- **encode**: ONE narrow projection — per subspace an argmin over k
  literal centroids, all inside whole-stage codegen (``slice`` +
  ``zip_with``/``aggregate`` folds). No shuffle, no joins, no Python; at
  100 TB this is a scan that writes 4-byte codes.
- **ADC query**: the query vector builds an m × k lookup table of partial
  squared distances driver-side (model-sized); each candidate's
  approximate distance is m table lookups summed in fixed order —
  ``TakeOrderedAndProject`` finishes top-k without a global sort.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import decimal_mean
from .atomic_swap import current_segments, new_segment, publish_segments
from .caching import tracked_persist
from .similarity import (
    exact_sqdist,
    exact_topk,
    ivf_cell_centroids,
    ivf_probe_cells,
)


def _dlit(v: float) -> str:
    """Exact SQL double literal: ``repr`` round-trips the IEEE double and
    the ``D`` suffix makes the parser produce the identical value (a bare
    ``0.1`` would parse as DECIMAL)."""
    return repr(float(v)) + "D"


def _sqdist_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """SQL text of the distance array from the array expression
    ``vec_sql`` to each literal centroid: per centroid one squared-L2
    ``zip_with``/``aggregate`` fold (cast-to-double per element, 0.0
    seed, left fold in element order — deterministic summation). The
    one squared-L2 kernel of PQ encoding and k-means assignment
    (``clustering.assign_clusters`` and the rebalance operators)."""
    folds = []
    for c in centroids:
        arr = "array(" + ",".join(_dlit(v) for v in c) + ")"
        folds.append(
            f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> "
            "(cast(x as double) - y) * (cast(x as double) - y)), "
            "0.0D, (acc, v) -> acc + v)"
        )
    return "array(" + ",".join(folds) + ")"


def _code_cols(
    codebooks: list[list[list[float]]], vec_col: str
) -> list:
    """Per-subspace argmin code expressions over literal centroids — the
    shared encode kernel for fitting and encoding (ties to the lowest
    code via ``array_position``'s first-minimum semantics).

    Each subspace's expression is assembled as ONE SQL string and parsed
    with ``F.expr``: the Column-DSL construction issued ~25 py4j calls
    per centroid (~800 per m=4×k=8 encode, measured ~2 s of driver time
    PER INVOCATION before any job ran). The parsed tree is the same
    slice/zip_with/aggregate/array_position shape the DSL built; doubles
    are embedded via ``repr`` + ``D`` suffix so every literal is
    bit-identical."""
    cols = []
    for s, cb in enumerate(codebooks):
        d_sub = len(cb[0])
        sub = f"slice(`{vec_col}`, {s * d_sub + 1}, {d_sub})"
        dists = _sqdist_sql(sub, cb)
        cols.append(
            F.expr(
                f"cast(array_position({dists}, array_min({dists})) - 1 "
                "as int)"
            )
        )
    return cols


def pq_fit(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_frac: float | None = None,
) -> list[list[list[float]]]:
    """Fit m per-subspace codebooks (each k × dim/m) with the deterministic
    k-means (lowest-id seeding, order-independent decimal centroid means).
    This is the one Lloyd's loop: ``clustering.kmeans_fit`` is the m=1
    case. A cluster that receives no points keeps its previous centroid.

    All m fits are FUSED: each Lloyd's iteration is ONE scan — the m
    argmin assignments ride a single projection, one ``posexplode``
    splits positions into (subspace, within-subspace dim), and one
    aggregation keyed on (subspace, code, dim) updates every codebook at
    once. Per-iteration cost is a single shuffle of model-sized partials
    regardless of m, where a per-subspace loop would pay m full scans.
    Returns plain Python lists — model-sized, never data-sized.

    ``sample_frac`` fits on a deterministic md5-bucket sample of the rows
    (same contract as ``sampling.hash_split`` — repeatable across runs,
    engines, and partitionings, never ``rand()``): at 100 TB the codebooks
    train on ~1M sampled vectors while the cheap encode pass still covers
    the full corpus, which is how PQ indexes are built in practice.
    """
    if sample_frac is not None:
        from .sampling import N_BUCKETS, hash_bucket

        emb = emb.filter(
            hash_bucket(F.col(id_col), offset=7)
            < F.lit(int(sample_frac * N_BUCKETS))
        )
    # persisted: Lloyd's scans the fit input n_iter+1 times (seeding
    # collect + one encode/update pass per iteration). For a residual
    # fit the input is itself a centroid-aggregation + broadcast-join
    # pipeline, which re-executed per pass before this cache. The fit
    # returns plain lists, so nothing lazy outlives it: a cache it made
    # is released on return, and a caller's own cache is left alone.
    owned = emb.storageLevel == StorageLevel.NONE
    if owned:
        emb = emb.persist()
    try:
        first = emb.orderBy(id_col).limit(k).select(vec_col).collect()
        if len(first) < k:
            raise ValueError(f"need at least k={k} rows, got {len(first)}")
        dim = len(first[0][0])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        d_sub = dim // m
        books = [
            [
                [float(x) for x in row[0][s * d_sub : (s + 1) * d_sub]]
                for row in first
            ]
            for s in range(m)
        ]
        for _ in range(n_iter):
            codes = F.array(*_code_cols(books, vec_col))
            # Materialize the per-row code array BEFORE exploding: Generate
            # re-evaluates sibling projections per output element, so
            # without the persist the m×k distance folds would re-run dim
            # times per row (the classic explode/lambda recompute trap).
            # From the cache the codes are a stored column — the explode
            # just references it.
            enc = emb.select(
                codes.alias("_codes"), F.col(vec_col).alias("_v")
            ).persist()
            try:
                ex = enc.select(
                    F.col("_codes"),
                    F.posexplode(F.col("_v")).alias("pos", "x"),
                ).select(
                    (F.col("pos") / d_sub).cast("int").alias("s"),
                    F.element_at(
                        F.col("_codes"), (F.col("pos") / d_sub).cast("int") + 1
                    ).alias("code"),
                    (F.col("pos") % d_sub).alias("i"),
                    F.col("x"),
                )
                stats = (
                    ex.groupBy("s", "code", "i")
                    .agg(
                        decimal_mean(
                            F.col("x"), scale=12, precision=32
                        ).alias("m")
                    )
                    .collect()
                )
            finally:
                enc.unpersist()
            new = [[list(c) for c in cb] for cb in books]
            seen = set()
            for r in stats:
                if (r["s"], r["code"]) not in seen:
                    seen.add((r["s"], r["code"]))
                    new[r["s"]][r["code"]] = [0.0] * d_sub
            for r in stats:
                new[r["s"]][r["code"]][r["i"]] = float(r["m"])
            books = new
        return books
    finally:
        if owned:
            emb.unpersist()


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to (id, code_0..code_{m-1}) — one codegen projection,
    argmin ties resolved to the lowest code (``array_position`` finds the
    first minimum). Shares the ``_code_cols`` kernel with ``pq_fit`` so
    fit-time assignments and encode-time codes can never diverge."""
    return emb.select(
        F.col(id_col),
        *[
            c.alias(f"code_{s}")
            for s, c in enumerate(_code_cols(codebooks, vec_col))
        ],
    )


def _adc_lut(
    codebooks: list[list[list[float]]], query: list[float]
) -> list[float]:
    """The flat ADC lookup table (m·k floats, subspace-major): entry
    ``s·k + c`` is the squared distance from the query's subspace-``s``
    slice to centroid ``c`` of codebook ``s``, folded in element order
    from 0.0 on the driver (model-sized)."""
    lut = []
    for s, cb in enumerate(codebooks):
        d_sub = len(cb[0])
        qs = query[s * d_sub : (s + 1) * d_sub]
        for c in cb:
            d = 0.0
            for a, b in zip(qs, c):
                d = d + (float(a) - float(b)) * (float(a) - float(b))
            lut.append(d)
    return lut


def _lut_dist(luts: list, key_col: "str | None", m: int, k: int) -> F.Column:
    """The ADC distance column over ``code_0..code_{m-1}``: m
    ``element_at`` lookups into a flat m·k LUT, summed in fixed subspace
    order. ``luts`` is one LUT (``key_col`` None), or ``(key, lut)``
    pairs shipped as one literal map keyed by ``key_col`` (per query or
    per probed cell — model-sized)."""
    if key_col is None:
        lut = F.lit(luts)
    else:
        entries = []
        for key, flat in luts:
            entries += [F.lit(key), F.lit(flat)]
        lut = F.element_at(F.create_map(*entries), F.col(key_col))
    dist = F.element_at(lut, F.col("code_0") + 1)
    for s in range(1, m):
        dist = dist + F.element_at(lut, F.lit(s * k) + F.col(f"code_{s}") + 1)
    return dist


def _adc_dist(
    codebooks: list[list[list[float]]], query: list[float]
) -> F.Column:
    """The ADC distance column of one query (see :func:`_lut_dist`)."""
    return _lut_dist(
        _adc_lut(codebooks, query), None, len(codebooks), len(codebooks[0])
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    topk: int = 20,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by ADC: per-subspace query→centroid squared
    distances become literal lookup arrays; each row's distance is m
    ``element_at`` lookups summed in fixed subspace order (deterministic
    IEEE evaluation both engines). Rounded to 6 decimals BEFORE the top-k
    order so the cut is stable cross-engine."""
    dist = _adc_dist(codebooks, query)
    m = len(codebooks)
    return (
        codes.withColumn("adc_dist", F.round(dist, 6))
        .orderBy("adc_dist", id_col)
        .limit(topk)
        .select(id_col, *[f"code_{s}" for s in range(m)], "adc_dist")
    )


def ivfpq_topk(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-PQ composite ANN (the FAISS ``IVFPQ`` architecture): rank coarse
    cells by centroid distance to the query, then ADC-scan ONLY the
    ``nprobe`` nearest cells' PQ codes. Read cost is nprobe/nlist of the
    table and the scanned payload is 4-byte codes, not 256-byte vectors —
    the two multiplicative savings that make petabyte ANN serving work.

    The cell-ranking stage is the existing IVF pattern (nlist-row decimal
    centroid table × 1-row query, both broadcast); candidates come from a
    broadcast equi-join on the cell id, so with the table partitioned by
    ``cell_col`` the scan prunes to nprobe partitions' files before any
    distance math."""
    probes = ivf_probe_cells(
        emb, query_id, nprobe, id_col=id_col, vec_col=vec_col,
        cell_col=cell_col,
    ).select("cell")
    cand = (
        emb.join(F.broadcast(probes), emb[cell_col] == F.col("cell"))
        .filter(F.col(id_col) != query_id)
        .select(id_col, vec_col)
    )
    codes = pq_encode(cand, codebooks, id_col=id_col, vec_col=vec_col)
    return pq_adc_topk(codes, codebooks, query, topk=k, id_col=id_col).select(
        id_col, "adc_dist"
    )


def ivfpq_recall_curve(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    query_id: int,
    k: int = 10,
    nprobes: tuple[int, ...] = (1, 2, 4),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Recall@k vs nprobe acceptance curve for the IVF-PQ index — the
    readout that decides the nprobe an IVF-PQ deployment serves at: for
    each ``nprobe`` in the sweep, how many of the ADC top-k from the
    ``nprobe`` nearest cells fall inside the EXACT squared-L2 top-k over
    the float vectors. Completes the quantized-serving gate family
    (``emb_int8_ann_recall`` audits the int8 index the same way).

    One plan, not one-per-point: cells are ranked ONCE (nlist-row decimal
    centroid table × 1-row query, both broadcast), candidates from the
    ``max(nprobes)`` best cells are ADC-scored ONCE, and the sweep is a
    broadcast fan-out of the tiny nprobe list — each candidate row joins
    the probe values whose budget covers its cell rank, and a per-nprobe
    ``row_number`` window takes the top k. Read cost stays
    max(nprobes)/nlist of the table; nothing is rescanned per curve point.

    Cross-engine determinism: ADC distances are 6dp-rounded before
    ranking with an id tie-break (the ``pq_adc_topk`` contract); the
    exact baseline is ``similarity.exact_topk`` (order-independent exact
    DECIMAL squared-L2), so the whole curve is SQL-oracle-checkable. ``recall_at_k``
    is hits/k of small integers — bit-identical IEEE division anywhere.

    Returns ``(nprobe, n_hits, recall_at_k)``, one row per swept nprobe.
    """
    from pyspark.sql import Window

    spark = emb.sparkSession
    maxp = max(nprobes)

    cent = ivf_cell_centroids(emb, cell_col=cell_col, vec_col=vec_col)
    q = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec")
    )
    # Cell-ranking key under the repo's cross-engine contract: exact
    # decimal squared-L2, the same kernel as the exact baseline below. A
    # raw DOUBLE sum would fold in array order here but in unspecified
    # GROUP BY order in the SQL oracle, so a near-ulp tie between two
    # cells could flip ``cell_rank`` and flake the hash check.
    sqd = exact_sqdist(F.col("centroid"), F.col("_qvec"))
    wc = Window.orderBy(F.col("_d"), F.col("cell"))
    cells = (
        cent.crossJoin(F.broadcast(q))
        .select("cell", sqd.alias("_d"))
        .withColumn("cell_rank", F.row_number().over(wc))
        .filter(F.col("cell_rank") <= maxp)
        .select("cell", "cell_rank")
    )

    cand = (
        emb.join(F.broadcast(cells), emb[cell_col] == F.col("cell"))
        .filter(F.col(id_col) != query_id)
        .select(id_col, vec_col, "cell_rank")
    )
    scored = cand.select(
        F.col(id_col),
        F.col("cell_rank"),
        *[
            c.alias(f"code_{s}")
            for s, c in enumerate(_code_cols(codebooks, vec_col))
        ],
    ).withColumn("adc_dist", F.round(_adc_dist(codebooks, query), 6))

    probes = spark.createDataFrame(
        [(int(n),) for n in sorted(nprobes)], "nprobe int"
    )
    wn = Window.partitionBy("nprobe").orderBy(
        F.col("adc_dist"), F.col(id_col)
    )
    topn = (
        scored.join(
            F.broadcast(probes), F.col("cell_rank") <= F.col("nprobe")
        )
        .withColumn("_rn", F.row_number().over(wn))
        .filter(F.col("_rn") <= k)
    )

    exact = exact_topk(emb, query_id, k, id_col=id_col, vec_col=vec_col)

    return (
        topn.join(F.broadcast(exact), id_col, "left")
        .groupBy("nprobe")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hits"))
        .select(
            "nprobe",
            "n_hits",
            (F.col("n_hits") / F.lit(float(k))).alias("recall_at_k"),
        )
        .orderBy("nprobe")
    )


def ivfpq_batch_topk(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 10,
    nprobes: tuple[int, ...] = (1, 2),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    exclude_self: bool = True,
) -> DataFrame:
    """Batched IVF-PQ ANN serving: top-k for a whole QUERY-BATCH
    DataFrame in one plan — the production retrieval-tier shape
    (mirrors ``retrieval_ndcg_mrr``'s one-scan multi-query BM25 batch),
    replacing per-query invocations of the single-query
    :func:`ivfpq_topk` / :func:`ivfpq_recall_curve` path.

    Plan shape, independent of batch size B:

    - **one centroid ranking per query**: the nlist-row decimal centroid
      table joins the B-row batch (both model-sized, broadcast) and a
      window over ``query_id`` ranks cells — B×nlist rows, never a
      per-query job;
    - **one candidates scan**: the fact table joins the broadcast
      (query, cell, cell_rank) probe set once; a row fans out only to
      the queries whose probe budget covers its cell (plan-tested: the
      executed plan has exactly one candidates-side scan regardless of
      B);
    - **codes computed once**: the PQ encode (``_code_cols``) is
      query-independent, so each candidate row is encoded once and
      scored per query by m ``element_at`` lookups into a
      query-id-keyed literal LUT map (B × m·k doubles — the batch is
      collected driver-side, legitimate because a serving batch is
      request-sized by definition, never corpus-sized);
    - **top-k window over (query_id, nprobe)**: parallelism scales with
      B × |nprobes| instead of funneling every candidate into the ≤3
      nprobe partitions the single-query sweep used (the round-8
      ``pq.py:335`` nit, fixed structurally here).

    Cross-engine determinism: cell ranking on exact DECIMAL squared-L2
    (operands snapped to DECIMAL(15,9) — the ``ivfpq_recall_curve``
    contract), ADC distances 6dp-rounded before the per-(query, nprobe)
    ``row_number`` with an id tie-break.

    ``exclude_self`` (default True) drops the candidate whose ``vec_id``
    equals the query's id — correct when queries are drawn FROM the corpus
    (a vector is trivially its own nearest neighbor). It assumes query ids
    and corpus ids share one id space: for an EXTERNAL query batch whose
    ids merely collide numerically with corpus ``vec_id``s, pass
    ``exclude_self=False`` or an unrelated corpus vector is silently
    dropped from that query's top-k. The query-id column type is inferred
    from the input batch frame (not hardcoded), so string/int id schemes
    both work.

    Returns ``(query_id, nprobe, vec_id, adc_dist, rn)`` — k rows per
    (query, nprobe) curve point.
    """
    from pyspark.sql import Window

    spark = emb.sparkSession
    maxp = max(nprobes)

    qrows = [
        (r[query_id_col], [float(x) for x in r[query_vec_col]])
        for r in queries.select(query_id_col, query_vec_col).collect()
    ]
    if not qrows:
        raise ValueError("empty query batch")

    cent = ivf_cell_centroids(emb, cell_col=cell_col, vec_col=vec_col)
    # query-id type comes from the batch frame itself — an external batch
    # may key queries by string/int; hardcoding long would mis-cast them
    qid_type = dict(queries.dtypes)[query_id_col]
    if exclude_self and qid_type != dict(emb.dtypes)[id_col]:
        raise ValueError(
            "ivfpq_batch_topk: exclude_self=True assumes query ids share "
            f"the corpus id space, but the batch id type ({qid_type}) "
            f"differs from {id_col}'s ({dict(emb.dtypes)[id_col]}) — this "
            "is an external batch; pass exclude_self=False"
        )
    qb = spark.createDataFrame(
        [(qid, qv) for qid, qv in qrows],
        f"{query_id_col} {qid_type}, _qvec array<double>",
    )
    sqd = exact_sqdist(F.col("centroid"), F.col("_qvec"))
    wc = Window.partitionBy(query_id_col).orderBy(F.col("_d"), F.col("cell"))
    cells = (
        qb.crossJoin(F.broadcast(cent))
        .select(query_id_col, "cell", sqd.alias("_d"))
        .withColumn("cell_rank", F.row_number().over(wc))
        .filter(F.col("cell_rank") <= maxp)
        .select(query_id_col, "cell", "cell_rank")
    )

    cand = emb.join(F.broadcast(cells), emb[cell_col] == F.col("cell"))
    if exclude_self:
        cand = cand.filter(F.col(id_col) != F.col(query_id_col))
    cand = cand.select(id_col, vec_col, query_id_col, "cell_rank")
    enc = cand.select(
        F.col(id_col),
        F.col(query_id_col),
        F.col("cell_rank"),
        *[
            c.alias(f"code_{s}")
            for s, c in enumerate(_code_cols(codebooks, vec_col))
        ],
    )
    # per-query flat ADC LUT, shipped as one literal map keyed by query
    # id — model-sized: B × m × k doubles
    dist = _lut_dist(
        [(qid, _adc_lut(codebooks, qv)) for qid, qv in qrows],
        query_id_col, len(codebooks), len(codebooks[0]),
    )
    scored = enc.withColumn("adc_dist", F.round(dist, 6))

    probes = spark.createDataFrame(
        [(int(n),) for n in sorted(nprobes)], "nprobe int"
    )
    wn = Window.partitionBy(query_id_col, "nprobe").orderBy(
        F.col("adc_dist"), F.col(id_col)
    )
    return (
        scored.join(
            F.broadcast(probes), F.col("cell_rank") <= F.col("nprobe")
        )
        .withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= k)
        .select(query_id_col, "nprobe", id_col, "adc_dist", "rn")
    )


def residual_vectors(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """(id, cell, residual) — each vector minus its coarse-cell centroid,
    via one broadcast join + a ``zip_with`` subtraction (codegen, no
    shuffle of the fact side beyond the scan)."""
    res = F.zip_with(
        F.col(vec_col),
        F.col("centroid"),
        lambda x, c: x.cast("double") - c,
    )
    return emb.join(
        F.broadcast(cents), emb[cell_col] == cents["cell"]
    ).select(F.col(id_col), F.col(cell_col), res.alias(vec_col))


def ivfpq_residual_topk(
    emb: DataFrame,
    query: list[float],
    query_id: int,
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
    topk: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    codebooks: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """Residual-encoded IVF-PQ — the actual FAISS ``IVFPQ`` design: PQ
    codebooks are fit on ``x - centroid(cell(x))`` rather than raw
    vectors, so the codes spend their 8 bits describing WITHIN-cell
    variation (the coarse quantizer already paid for the between-cell
    part) — materially lower distortion at identical code size. The price
    is query-side: the lookup table depends on the probed cell (the query
    residual differs per cell), so the ADC map is keyed by cell — still
    model-sized (nprobe × m × k doubles), built driver-side and shipped
    as a literal map.

    All driver fetches are model-sized: nprobe probe rows, their
    centroids, the 1-row query. Candidates stream through one broadcast
    cell-probe join, the codegen residual+encode projection, and a
    ``TakeOrderedAndProject`` top-k.

    ``codebooks`` (optional) bypasses the in-call residual ``pq_fit`` with
    an already-fitted model — the registry memoizes the fit per dataset
    so repeated audit invocations time the serve path, not Lloyd's."""
    # persisted: the nlist-row centroid table feeds the probe ranking,
    # the driver-side cmap fetch, and the candidate residual join —
    # without the cache the corpus-wide centroid aggregation ran up to
    # four times per serve (probe stage recomputed its own copy too)
    cents = tracked_persist(
        ivf_cell_centroids(emb, cell_col=cell_col, vec_col=vec_col)
    )
    if codebooks is None:
        res = residual_vectors(
            emb, cents, id_col=id_col, vec_col=vec_col, cell_col=cell_col
        )
        codebooks = pq_fit(
            res.select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).alias("embedding"),
            ),
            m=m, k=k, n_iter=n_iter,
        )
    probes = ivf_probe_cells(
        emb, query_id, nprobe, id_col=id_col, vec_col=vec_col,
        cell_col=cell_col, cents=cents,
    ).select("cell")
    probed = [r.cell for r in probes.collect()]
    cmap = {
        r["cell"]: [float(v) for v in r["centroid"]]
        for r in cents.filter(F.col("cell").isin(probed)).collect()
    }
    # the query residual differs per probed cell, so the LUT is keyed by
    # cell; its stride derives from the model itself — a caller-supplied
    # codebook with a different k than the fit params must not skew it
    qres = {c: [float(a) - b for a, b in zip(query, cmap[c])] for c in probed}
    dist = _lut_dist(
        [(c, _adc_lut(codebooks, qres[c])) for c in probed],
        cell_col, len(codebooks), len(codebooks[0]),
    )

    cand = emb.join(
        F.broadcast(probes), emb[cell_col] == F.col("cell")
    ).filter(F.col(id_col) != query_id)
    cand_res = residual_vectors(
        cand.select(id_col, cell_col, vec_col), cents,
        id_col=id_col, vec_col=vec_col, cell_col=cell_col,
    )
    enc = cand_res.select(
        F.col(id_col),
        F.col(cell_col),
        *[
            c.alias(f"code_{s}")
            for s, c in enumerate(_code_cols(codebooks, vec_col))
        ],
    )
    return (
        enc.withColumn("adc_dist", F.round(dist, 6))
        .orderBy("adc_dist", id_col)
        .limit(topk)
        .select(id_col, "adc_dist")
    )


def ivfpq_delta_index(
    new_emb: DataFrame,
    cents: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental index maintenance: encode + cell-assign a batch of NEW
    vectors against an EXISTING index (coarse centroids + PQ codebooks) —
    NO refit. A 100 TB corpus grows daily; refitting codebooks per batch
    is the anti-pattern (and silently shifts every existing code). This
    is the ANN analog of ``dedup.incremental_dedup``: the delta is
    processed against the standing model, and the result appends.

    Cell assignment is the exact-decimal argmin of the repo's ranking
    contract (operands snapped to DECIMAL(15,9), squared and summed
    exactly, ``row_number`` tie-break on the cell id — identical to the
    ``ivfpq_recall_curve`` cell ranking), so the assignment — not just
    the codes — is SQL-replayable. The window partitions by the new
    vector id: nlist candidate rows per vector, parallel in the batch.

    Plan: one broadcast of the nlist-row centroid table against the
    delta scan, one partitioned window, one codegen encode projection.
    No aggregation over the corpus, no k-means stages (plan-tested).

    Returns ``(id_col, cell, code_0..code_{m-1})`` — the delta rows in
    the same layout a standing code table uses, ready to union/append.
    """
    from pyspark.sql import Window

    sqd = exact_sqdist(F.col("centroid"), F.col(vec_col))
    w = Window.partitionBy(id_col).orderBy(F.col("_d"), F.col("cell"))
    assigned = (
        new_emb.crossJoin(F.broadcast(cents))  # nlist-row centroid table
        .select(F.col(id_col), F.col(vec_col), F.col("cell"), sqd.alias("_d"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    return assigned.select(
        F.col(id_col),
        F.col("cell"),
        *[
            c.alias(f"code_{s}")
            for s, c in enumerate(_code_cols(codebooks, vec_col))
        ],
    )


def ivfpq_incremental_topk(
    emb: DataFrame,
    new_emb: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Serve IVF-PQ top-k over OLD ∪ NEW after an incremental batch:
    the standing corpus contributes candidates through the usual probed
    cell equi-join + encode; the new batch contributes through
    :func:`ivfpq_delta_index` (assigned + encoded against the SAME
    memoized model, no refit — the plan contains no k-means stages);
    both sides score through one shared ADC projection and one
    ``TakeOrderedAndProject`` top-k (no global sort, no unpartitioned
    window).

    Returns ``(src, vec_id, adc_dist)`` — ``src`` ∈ ``old``/``new`` —
    the k nearest by 6dp-rounded ADC distance with an id tie-break.

    Id overlap: a delta batch re-submitting an already-admitted id would
    otherwise occupy two result slots with conflicting codes, so the
    standing corpus is anti-joined against the batch's ids before its
    encode — the NEW version wins, the same admission contract as
    ``dedup.incremental_minhash_pairs`` (ADVICE round-10). The
    anti-join broadcasts the delta's id column (batch-sized) and is a
    no-op under the append-log discipline that guarantees disjoint ids.
    """
    from pyspark.sql import Window

    # model-sized (nlist rows) but consumed twice: probe ranking below
    # and the delta assignment — persist so the corpus-wide centroid
    # aggregation runs once
    cents = tracked_persist(
        ivf_cell_centroids(emb, cell_col=cell_col, vec_col=vec_col)
    )

    sqd = exact_sqdist(F.col("centroid"), F.lit([float(x) for x in query]))
    wc = Window.orderBy(F.col("_d"), F.col("cell"))  # nlist rows: global ok
    probes = (
        cents.select("cell", sqd.alias("_d"))
        .withColumn("_rn", F.row_number().over(wc))
        .filter(F.col("_rn") <= nprobe)
        .select("cell")
    )

    new_ids = new_emb.select(id_col)
    old_codes = pq_encode(
        emb.join(F.broadcast(probes), emb[cell_col] == F.col("cell"))
        .filter(F.col(id_col) != query_id)
        .join(F.broadcast(new_ids), id_col, "left_anti")
        .select(id_col, vec_col),
        codebooks, id_col=id_col, vec_col=vec_col,
    ).select(F.lit("old").alias("src"), "*")
    new_codes = (
        ivfpq_delta_index(
            new_emb, cents, codebooks, id_col=id_col, vec_col=vec_col
        )
        .join(F.broadcast(probes), "cell")
        .drop("cell")
        .select(F.lit("new").alias("src"), "*")
    )
    dist = _adc_dist(codebooks, query)
    return (
        old_codes.unionByName(new_codes)
        .withColumn("adc_dist", F.round(dist, 6))
        .orderBy("adc_dist", id_col)
        .limit(k)
        .select("src", id_col, "adc_dist")
    )


def ivfpq_write_index(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> None:
    """Materialize the IVF-PQ serving index as a CELL-PARTITIONED Parquet
    table of codes: ``cell=<c>/...`` directories holding
    ``(id, code_0..code_{m-1})`` rows. This is the shape that realizes
    both of the architecture's multiplicative savings AT THE STORAGE
    LAYER rather than per query:

    - **4-byte codes, not 256-byte vectors**: the scanned payload is the
      m int codes — the encode projection runs ONCE at build time, not
      once per query (the ``ivfpq_topk`` family re-encodes candidates on
      every call, which is the right shape for ad-hoc audits and the
      wrong one for a serving tier);
    - **partition pruning, not row filtering**: the probe's cell
      predicate prunes to nprobe DIRECTORIES before any I/O — the query
      never opens the other nlist − nprobe partitions' files
      (plan-tested: ``PartitionFilters`` carries the cell predicate and
      ``ReadSchema`` has no vector column).

    One shuffle (repartition by cell) sizes one output file per cell.
    ``path`` must not exist: every caller hands it a fresh segment
    directory, so the write refuses to replace a table.
    """
    codes = emb.select(
        F.col(cell_col).alias("cell"),
        F.col(id_col),
        *[
            c.alias(f"code_{s}")
            for s, c in enumerate(_code_cols(codebooks, vec_col))
        ],
    )
    codes.repartition("cell").write.mode("errorifexists").partitionBy(
        "cell"
    ).parquet(path)


def ivfpq_incremental_rerank_topk(
    emb: DataFrame,
    new_emb: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVFADC **with re-ranking** over the incrementally grown corpus —
    the serving shape production ANN tiers actually run (Jégou et al.,
    TPAMI 2011 §IV-D: compressed-domain shortlist, exact refinement):
    the probed-cell ADC scan keeps a ``shortlist``-sized candidate list
    (4-byte codes, the cheap pass), then ONLY those candidates fetch
    their float vectors for an exact squared-L2 re-rank to top-``k``.

    Re-ranking is what turns a quantization-noisy ADC ordering into a
    recall-worthy answer: recall@k is bounded by P(true neighbors ∈
    probed cells ∧ ∈ ADC top-``shortlist``), not by the code resolution
    itself — on corpora whose geometry PQ compresses poorly (high
    intrinsic dimension), the shortlist+refine pair is the ONLY
    configuration that passes an acceptance gate without exhaustive
    scan. Cost: the refine pass reads ``shortlist`` vectors (a broadcast
    semi-join against the corpus scan — a point-lookup tier in a real
    serving stack), so the expensive float math is O(shortlist), never
    O(corpus).

    Determinism: the ADC shortlist cut ranks on 6dp-rounded distance
    with id tie-break (the ``ivfpq_incremental_topk`` contract); the
    re-rank snaps operands to DECIMAL(15,9) and sums exact DECIMAL(38,18)
    squares (the recall-curve exact-baseline contract), so the whole
    chain is hash-checkable. Returns ``(vec_id, exact_dist)``.
    """
    sl = ivfpq_incremental_topk(
        emb, new_emb, codebooks, query, query_id,
        k=shortlist, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, cell_col=cell_col,
    ).select(id_col)
    # same id-overlap defense as ivfpq_incremental_topk: a re-submitted
    # id must contribute ONE row (the new version), or duplicates could
    # occupy two of the k refined slots
    uni = emb.select(id_col, vec_col).join(
        F.broadcast(new_emb.select(id_col)), id_col, "left_anti"
    ).unionByName(new_emb.select(id_col, vec_col))
    cand = uni.join(F.broadcast(sl), id_col, "left_semi")
    # the query snaps in Spark (HALF_UP) — Python's round() is half-even
    # and would diverge from the SQL oracle on exact ties
    dexact = exact_sqdist(F.col(vec_col), F.lit([float(x) for x in query]))
    return (
        cand.select(F.col(id_col), dexact.alias("_de"))
        .orderBy(F.col("_de"), F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col),
            F.round(F.col("_de").cast("double"), 6).alias("exact_dist"),
        )
    )


# ---------------------------------------------------------------------------
# segmented code store: every persisted ANN index
#
# Each persisted code index (raw and residual) is a segmented store:
# immutable code segments under ``root/segs/<seg>/`` (each a
# cell-partitioned table written by ivfpq_write_index), versions that are
# just a membership list plus an optional tombstone table and any
# version tables (the residual index's centroids) — so the store
# supports the full lifecycle publish → admit* → DELETE → compact
# without ever re-encoding a surviving vector. A plain publish is the
# one-segment, tombstone-free case. Segment naming, the membership
# publish, current-version read and segment GC are
# ``atomic_swap.new_segment``/``publish_segments``/``current_segments``;
# the streamed batch admit is ``atomic_swap.admit_batch``.


def _read_code_segments(spark, root: str, segs: "list[str]") -> DataFrame:
    """One DataFrame over every live code segment: per-segment reads
    unioned by name (a single multi-path read would root partition
    discovery at the common ``segs/`` parent and reject the layout);
    cell/id predicates still push into every branch, so partition
    pruning works per segment."""
    from functools import reduce

    parts = [spark.read.parquet(f"{root}/segs/{s}") for s in segs]
    return reduce(lambda a, b: a.unionByName(b), parts)


def ivfpq_publish_segmented(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    root: str,
    retain: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    fingerprint: "str | None" = None,
) -> str:
    """Base publish of the SEGMENTED code store: encode the whole corpus
    once into a single cell-partitioned code segment (the
    :func:`ivfpq_write_index` layout under ``root/segs/<seg>``) and
    publish the one-segment membership. Returns the published version
    path."""
    seg, seg_path = new_segment(root)
    ivfpq_write_index(
        emb, codebooks, seg_path,
        id_col=id_col, vec_col=vec_col, cell_col=cell_col,
    )
    return publish_segments(
        emb.sparkSession, root, [seg], retain=retain, fingerprint=fingerprint
    )


def ivfpq_delete_ids(
    delete_ids: DataFrame,
    root: str,
    retain: int = 2,
    id_col: str = "vec_id",
    fingerprint: "str | None" = None,
) -> str:
    """TOMBSTONE deletion from the segmented code store: publish a new
    version with the SAME membership — no code row is rewritten, nothing
    re-encodes — whose tombstone table is the standing set ∪ the new
    ids. The serve path anti-joins the (takedown-sized, broadcast)
    table; :func:`ivfpq_compact_segments` folds it out physically.
    Idempotent: re-deleting an id is a distinct-union no-op."""
    spark = delete_ids.sparkSession
    _, segs, old = current_segments(spark, root, "ivfpq_delete_ids")
    ids = delete_ids.select(F.col(id_col).cast("long")).distinct()
    all_tomb = ids if old is None else old.unionByName(ids).distinct()
    return publish_segments(
        spark, root, segs,
        retain=retain, fingerprint=fingerprint, tombstones=all_tomb,
    )


def _code_topk(
    spark,
    root: str,
    segs: "list[str]",
    tomb: "DataFrame | None",
    probes: list,
    query_id: int,
    dist,
    k: int,
    id_col: str,
) -> DataFrame:
    """ADC top-k over the ``probes`` cells of the live code segments:
    the cell predicate prunes each segment's ``cell=`` directories, the
    query id drops, tombstoned ids drop via one broadcast anti-join, and
    ``dist`` (an ADC column over ``code_*``) ranks the survivors with a
    ``TakeOrderedAndProject`` on 6dp distance and id."""
    scan = (
        _read_code_segments(spark, root, segs)
        .filter(F.col("cell").isin(probes))
        .filter(F.col(id_col) != query_id)
    )
    if tomb is not None:
        scan = scan.join(F.broadcast(tomb), id_col, "left_anti")
    return (
        scan.withColumn("adc_dist", F.round(dist, 6))
        .orderBy("adc_dist", id_col)
        .limit(k)
        .select(id_col, "adc_dist")
    )


def ivfpq_segmented_topk(
    spark,
    root: str,
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Serve top-k from the current version of the segmented code store:
    rank cells against the corpus centroids, collect the nprobe probe
    cells (a model-sized driver fetch — nprobe scalars), then read ONLY
    those partitions of every live segment and ADC-score them. The scan
    is the whole query cost: nprobe/nlist of each segment's directories
    × 4 bytes per vector, never the vector column (plan-tested:
    ``PartitionFilters`` carries the cell predicate, ``ReadSchema`` has
    no vector column). Deleted ids drop via one broadcast anti-join
    against the version's tombstone table."""
    _, segs, tomb = current_segments(spark, root, "ivfpq_segmented_topk")
    probes = [
        r["cell"]
        for r in ivf_probe_cells(
            emb, query_id, nprobe, id_col=id_col, vec_col=vec_col,
            cell_col=cell_col,
        )
        .select("cell")
        .collect()
    ]
    return _code_topk(
        spark, root, segs, tomb, probes, query_id,
        _adc_dist(codebooks, query), k, id_col,
    )


def ivfpq_compact_segments(
    spark,
    root: str,
    retain: int = 2,
    id_col: str = "vec_id",
    fingerprint: "str | None" = None,
) -> str:
    """Compact the segmented code store: merge every live segment's code
    ROWS (no re-encode — the plan scans only the 4-byte-code tables)
    into one cell-partitioned segment, folding tombstoned ids out
    physically, and publish the clean single-segment membership with no
    tombstone table."""
    _, segs, tomb = current_segments(spark, root, "ivfpq_compact_segments")
    src = _read_code_segments(spark, root, segs)
    if tomb is not None:
        src = src.join(F.broadcast(tomb), id_col, "left_anti")
    seg, seg_path = new_segment(root)
    (
        src.repartition("cell")
        .write.mode("errorifexists")
        .partitionBy("cell")
        .parquet(seg_path)
    )
    return publish_segments(
        spark, root, [seg], retain=retain, fingerprint=fingerprint
    )


def ivfpq_publish_residual(
    emb: DataFrame,
    root: str,
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
    retain: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    fingerprint: "str | None" = None,
) -> "tuple[str, list[list[list[float]]]]":
    """Publish the RESIDUAL-encoded serving index as a one-segment store:
    the segment holds the residual PQ codes in the
    :func:`ivfpq_write_index` layout, and the version holds the coarse
    centroid table the residuals were taken against — self-contained,
    so a serving tier needs only this store and the (model-sized)
    codebooks. Same storage-layer savings as the raw-coded store
    (4-byte codes, cell-directory pruning) at residual encoding's lower
    distortion (committed audits: residual beats raw at every SF at
    identical code size). Returns ``(version path, fitted codebooks)``."""
    # persisted: cents is read by the residual join AND written out as
    # the version table; res feeds the (iterative) fit and the codes
    # projection — without the caches the centroid aggregation +
    # broadcast join chain re-executed once per consumer
    cents = tracked_persist(
        ivf_cell_centroids(emb, cell_col=cell_col, vec_col=vec_col)
    )
    res = tracked_persist(
        residual_vectors(
            emb, cents, id_col=id_col, vec_col=vec_col, cell_col=cell_col
        )
    )
    codebooks = pq_fit(
        res.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ),
        m=m, k=k, n_iter=n_iter,
    )
    seg, seg_path = new_segment(root)
    ivfpq_write_index(
        res, codebooks, seg_path,
        id_col=id_col, vec_col=vec_col, cell_col=cell_col,
    )
    vpath = publish_segments(
        emb.sparkSession, root, [seg], retain=retain, fingerprint=fingerprint,
        write_tables=lambda v: cents.write.mode("errorifexists").parquet(
            f"{v}/centroids"
        ),
    )
    return vpath, codebooks


def ivfpq_residual_persisted_topk(
    spark,
    root: str,
    codebooks: list[list[list[float]]],
    query: list[float],
    query_id: int,
    topk: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Serve residual-IVF-PQ top-k from the current version of the
    residual store (:func:`ivfpq_publish_residual`): the coarse probe
    ranks the version's centroid table against the query driver-side
    (nlist rows — model-sized; the same sequential IEEE fold as the
    in-process probe, ties to the lowest cell), the cell-keyed ADC LUT
    ships as a literal map (nprobe × m × k doubles), and the scan reads
    ONLY the probed cells' code partitions. Value-identical to
    :func:`ivfpq_residual_topk` over the same model — the registry twin
    shares its oracle."""
    vpath, segs, tomb = current_segments(
        spark, root, "ivfpq_residual_persisted_topk"
    )
    cent_rows = spark.read.parquet(f"{vpath}/centroids").collect()
    cmap = {
        int(r["cell"]): [float(v) for v in r["centroid"]]
        for r in cent_rows
    }
    # the probe distances are the one-codebook LUT over the centroids
    cells = list(cmap)
    dists = _adc_lut([[cmap[c] for c in cells]], query)
    probed = [c for _d, c in sorted(zip(dists, cells))[:nprobe]]
    qres = {c: [float(a) - b for a, b in zip(query, cmap[c])] for c in probed}
    dist = _lut_dist(
        [(c, _adc_lut(codebooks, qres[c])) for c in probed],
        "cell", len(codebooks), len(codebooks[0]),
    )
    return _code_topk(
        spark, root, segs, tomb, probed, query_id, dist, topk, id_col
    )
