"""Distributed model fitting: full-batch logistic-regression GD.

The learned quality classifier is the standard curation tool for LLM
training corpora (fastText-style filters a la Joulin et al. 2017; the
CCNet / GPT-3 / LLaMA pipelines all gate documents on a linear model over
cheap text features). The reference engine has no ML surface (extension
charter, SURVEY.md §7.7) — this module supplies the distributed-fit shape:

- every gradient step is ONE map-side-combinable aggregation over the
  feature frame (partial sums per partition, merged on the driver side of
  the agg — the same shape as the k-means update in
  ``operators/clustering.py``), so a step costs exactly one scan of the
  (persisted) feature frame regardless of cluster size;
- model state (the weight vector) is collected once per step — a 1-row,
  model-sized collect, never data-sized;
- the fixed step count makes the whole fit SQL-expressible, so the
  registry oracle unrolls the identical trajectory as chained CTEs
  (``registry._logit_ctes``) and hash-checks every step's weights AND
  metrics against DuckDB.

Cross-engine determinism (the contract in ``NOTES.md`` / memory):

- per-row sigmoid/gradient terms are 6dp-rounded at the point they enter
  arithmetic, then summed EXACTLY in DECIMAL(20,6) — partition order
  cannot perturb the sums, and libm ``exp`` ulp-disagreement between the
  JVM and DuckDB is absorbed by the round;
- the driver-side weight update ``w + lr * (float(sum)/n)`` is the same
  IEEE op sequence DuckDB's unrolled CTE performs (decimal→double casts
  are correctly rounded on both engines), so the weights stay
  bit-identical across engines at every step;
- display rounding happens ONCE, in the final projection (Spark
  ``F.round`` — never Python's ``round``, whose half-even ties disagree
  with SQL's half-away-from-zero).

At 100 TB the full-batch pass per step is the honest cost model: n_steps
scans of the feature frame (itself one pruned projection of the corpus).
A production run caps the feature frame first (sample or
``pipeline_source_cap``-style stratified cap) — the fit frame is an input
contract, not something this operator sneaks a sample of. The contract is
ENFORCED, not just documented: ``logit_gd_fit`` rejects fit inputs above
``max_rows`` (default ``DEFAULT_MAX_FIT_ROWS``) with an actionable error,
read off the first aggregation pass at zero extra cost.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .caching import tracked_persist

_DEC = "decimal(20,6)"

#: Default fit-input row cap: n_steps full scans of the feature frame is
#: the honest cost model of full-batch GD, so the fit INPUT must be
#: bounded — at 100 TB the caller samples/caps first (``sampling.hash_split``
#: or a stratified cap) and fits on the capped frame. 5M rows × a handful
#: of doubles is comfortably one executor-memory-sized persisted frame and
#: a sub-second aggregation pass per step on a real cluster.
DEFAULT_MAX_FIT_ROWS = 5_000_000


def _dec_term(col: F.Column) -> F.Column:
    """6dp-round a per-row double term and snap it to exact DECIMAL for an
    order-independent sum (the NDCG/BM25 per-term contract)."""
    return F.round(col, 6).cast(_DEC)


def standardize_stats(
    df: DataFrame, cols: list[str]
) -> list[tuple[float, float]]:
    """Population (mean, std) per column from ONE exact-decimal
    aggregation pass, collected driver-side (1 row, 2·len(cols)+1
    values). Constant columns report std 1.0 so a dead feature cannot
    produce NaNs downstream. The driver math — ``float(decimal)/n`` and
    ``math.sqrt`` — is the identical IEEE sequence the SQL oracle's stats
    CTE performs, so the standardized doubles are bit-identical
    cross-engine."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        x = F.col(c)
        aggs.append(F.sum(_dec_term(x)).alias(f"s_{c}"))
        aggs.append(F.sum(_dec_term(x * x)).alias(f"q_{c}"))
    row = df.agg(*aggs).collect()[0]
    n = row["n"]
    if not n:
        raise ValueError("standardize: empty input frame")
    stats = []
    for c in cols:
        m = float(row[f"s_{c}"]) / n
        var = float(row[f"q_{c}"]) / n - m * m
        stats.append((m, math.sqrt(var) if var > 0.0 else 1.0))
    return stats


def apply_standardize(
    df: DataFrame,
    cols: list[str],
    stats: list[tuple[float, float]],
    label_cols: list[str] | None = None,
) -> DataFrame:
    """Project ``(x − mean)/std`` as literals from a collected stats
    vector (so a memoized model can re-standardize a fresh scan without
    re-running the stats pass)."""
    out = [
        ((F.col(c) - F.lit(m)) / F.lit(d)).alias(c)
        for c, (m, d) in zip(cols, stats)
    ]
    return df.select(*out, *(label_cols or []))


def standardize(
    df: DataFrame, cols: list[str], label_cols: list[str] | None = None
) -> DataFrame:
    """Z-score ``cols`` (one stats pass + a literal projection; see
    :func:`standardize_stats` for the determinism contract).

    The input frame is persisted first: the stats pass and the returned
    projection both read it, and feature frames are typically projections
    of expensive per-row chains (the quality-logit regex features ran
    twice per fit before this — once for stats, once when the projection
    materialized). The cached frame is the post-projection feature
    columns only, so the cache is a few doubles per row; an input that is
    already cached is used as is (see ``tracked_persist``)."""
    df = tracked_persist(df)
    return apply_standardize(
        df, cols, standardize_stats(df, cols), label_cols
    )


def logit_gd_trajectory(
    spark: SparkSession,
    feat: DataFrame,
    feature_cols: list[str],
    label_col: str = "y",
    n_steps: int = 4,
    lr: float = 2.0,
    max_rows: int | None = DEFAULT_MAX_FIT_ROWS,
) -> DataFrame:
    """Full-batch logistic-regression gradient descent from w = 0, emitting
    the training trajectory: one row per step t ∈ [0, n_steps] with the
    weights w_t and the train metrics (accuracy at p ≥ 0.5, mean |y − p|)
    evaluated UNDER w_t. Row 0 is the p = 0.5 baseline; the last row is
    the fitted model's readout.

    ``label_col`` must be DOUBLE 0.0/1.0. Each step is one aggregation
    pass over the persisted feature frame; the weight vector is the only
    driver-side state. Update: w += lr · mean((y − σ(w·x)) · x) — plain
    ascent on the log-likelihood, no regularization (the fixed small step
    count is the capacity control here, and it keeps the oracle unrolled).
    """
    rows, _ = logit_gd_fit(
        feat, feature_cols, label_col, n_steps, lr, max_rows=max_rows
    )
    names = ["bias"] + list(feature_cols)
    schema = T.StructType(
        [
            T.StructField("step", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("acc", T.DoubleType()),
            T.StructField("mean_abs_err", T.DoubleType()),
        ]
        + [T.StructField(f"w_{c}", T.DoubleType()) for c in names]
    )
    out = spark.createDataFrame(rows, schema)
    return out.select(
        "step",
        "n",
        F.round("acc", 6).alias("acc"),
        F.round("mean_abs_err", 6).alias("mean_abs_err"),
        *[F.round(f"w_{c}", 6).alias(f"w_{c}") for c in names],
    ).orderBy("step")


def logit_weights_expr(
    weights: list[float], feature_cols: list[str]
) -> F.Column:
    """σ(w·x) as a 6dp-rounded column from a fitted weight vector
    (bias-first, left-associated — the exact op order the fit and the
    oracle use)."""
    z = F.lit(weights[0])
    for wj, c in zip(weights[1:], feature_cols):
        z = z + F.lit(wj) * F.col(c)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def logit_gd_fit(
    feat: DataFrame,
    feature_cols: list[str],
    label_col: str = "y",
    n_steps: int = 4,
    lr: float = 2.0,
    max_rows: int | None = DEFAULT_MAX_FIT_ROWS,
) -> tuple[list[tuple], list[float]]:
    """The GD loop behind :func:`logit_gd_trajectory`, returning the raw
    trajectory rows AND the final (unrounded) weight vector — the handle
    a serving path scores fresh rows with (:func:`logit_weights_expr`).

    ``max_rows`` ENFORCES the bounded-fit-input contract (previously only
    documented): the row count read off the first step's aggregation —
    no extra pass — must not exceed it, else ``ValueError`` tells the
    caller to sample/cap the feature frame first (``None`` opts out for
    callers who have made that trade deliberately). An empty or fully
    filtered frame also raises ``ValueError`` (mirroring
    ``standardize_stats``) instead of a bare ``ZeroDivisionError``."""
    feat = tracked_persist(feat)
    y = F.col(label_col)
    names = ["bias"] + list(feature_cols)
    w = [0.0] * len(names)
    rows = []
    for t in range(n_steps + 1):
        # z built left-associated, bias first — the oracle mirrors this
        # exact op order so the doubles agree bitwise.
        p = logit_weights_expr(w, feature_cols)
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec_term(y - p)).alias("g_bias"),
            F.sum(
                F.when((p >= 0.5) == (y == 1.0), 1).otherwise(0)
            ).alias("correct"),
            F.sum(_dec_term(F.abs(y - p))).alias("l1"),
        ]
        for c in feature_cols:
            aggs.append(F.sum(_dec_term((y - p) * F.col(c))).alias(f"g_{c}"))
        r = feat.agg(*aggs).collect()[0]
        n = r["n"]
        if not n:
            raise ValueError("logit fit: empty input frame")
        if t == 0 and max_rows is not None and n > max_rows:
            raise ValueError(
                f"logit fit: input frame has {n} rows > max_rows="
                f"{max_rows}; full-batch GD scans the frame once per "
                "step — sample or cap the feature frame first (e.g. "
                "sampling.hash_split), or pass max_rows=None to opt out"
            )
        rows.append(
            (t, n, r["correct"] / n, float(r["l1"]) / n, *w)
        )
        if t < n_steps:
            grads = [float(r["g_bias"]) / n] + [
                float(r[f"g_{c}"]) / n for c in feature_cols
            ]
            w = [wj + lr * gj for wj, gj in zip(w, grads)]
    return rows, w
