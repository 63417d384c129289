"""Unit tests for operators/mlfit.py — distributed logistic-GD fit.

The hand-check replicates the exact cross-engine arithmetic contract in
pure Python: 6dp HALF_UP rounding of the shortest-repr double (matching
Spark's BigDecimal.valueOf round path), exact Decimal sums of the rounded
terms, and the same IEEE weight-update sequence. Bitwise agreement here is
the same property the registry's unrolled-CTE DuckDB oracle checks at the
corpus SFs.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from ambient_sound_analysis_api_spark.operators.mlfit import (
    logit_gd_trajectory,
    standardize,
)


def round6(x: float) -> float:
    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def py_trajectory(xs, ys, n_steps, lr):
    """Pure-Python replication of logit_gd_trajectory on one feature."""
    w = [0.0, 0.0]
    rows = []
    n = len(xs)
    for t in range(n_steps + 1):
        ps = [round6(1.0 / (1.0 + math.exp(-(w[0] + w[1] * x)))) for x in xs]
        dec = lambda terms: sum(  # noqa: E731 — exact decimal accumulation
            (Decimal(repr(round6(v))) for v in terms), Decimal(0)
        )
        gb = dec(y - p for y, p in zip(ys, ps))
        g1 = dec((y - p) * x for x, y, p in zip(xs, ys, ps))
        correct = sum(1 for y, p in zip(ys, ps) if (p >= 0.5) == (y == 1.0))
        l1 = dec(abs(y - p) for y, p in zip(ys, ps))
        rows.append(
            {
                "step": t,
                "n": n,
                "acc": round6(correct / n),
                "mean_abs_err": round6(float(l1) / n),
                "w_bias": round6(w[0]),
                "w_x": round6(w[1]),
            }
        )
        if t < n_steps:
            w = [
                w[0] + lr * (float(gb) / n),
                w[1] + lr * (float(g1) / n),
            ]
    return rows


def test_logit_trajectory_matches_pure_python(spark):
    xs = [-2.0, -1.0, -0.5, 0.5, 1.0, 2.0, -1.5, 0.25]
    ys = [0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 0.0, 1.0]
    feat = spark.createDataFrame(
        [(x, y) for x, y in zip(xs, ys)], ["x", "y"]
    )
    got = logit_gd_trajectory(spark, feat, ["x"], "y", n_steps=3, lr=2.0)
    rows = [r.asDict() for r in got.collect()]
    want = py_trajectory(xs, ys, 3, 2.0)
    assert len(rows) == 4
    for g, w in zip(rows, want):
        assert g["step"] == w["step"] and g["n"] == w["n"]
        assert g["acc"] == pytest.approx(w["acc"], abs=0)
        assert g["mean_abs_err"] == pytest.approx(w["mean_abs_err"], abs=0)
        assert g["w_bias"] == pytest.approx(w["w_bias"], abs=0)
        assert g["w_x"] == pytest.approx(w["w_x"], abs=0)


def test_logit_step0_baseline_and_convergence(spark):
    # cleanly separable: x = y ± nothing → GD should reach acc 1.0 fast
    data = [(float(i % 2) * 2.0 - 1.0, float(i % 2)) for i in range(40)]
    feat = spark.createDataFrame(data, ["x", "y"])
    rows = logit_gd_trajectory(spark, feat, ["x"], "y", n_steps=4, lr=2.0).collect()
    r0 = rows[0]
    # w0 = 0 → p = 0.5 everywhere → predict positive; acc = mean(y)
    assert r0["w_bias"] == 0.0 and r0["w_x"] == 0.0
    assert r0["acc"] == pytest.approx(0.5)
    assert r0["mean_abs_err"] == pytest.approx(0.5)
    errs = [r["mean_abs_err"] for r in rows]
    assert errs == sorted(errs, reverse=True), "L1 loss must fall every step"
    assert rows[-1]["acc"] == 1.0


def test_standardize_moments_and_constant_guard(spark):
    df = spark.createDataFrame(
        [(float(v), 7.5, float(v % 2)) for v in range(10)],
        ["x", "const", "y"],
    )
    out = standardize(df, ["x", "const"], label_cols=["y"])
    assert out.columns == ["x", "const", "y"]
    stats = out.agg(
        F.round(F.avg("x"), 9).alias("mx"),
        F.round(F.avg(F.col("x") * F.col("x")), 6).alias("qx"),
        F.min("const").alias("c_min"),
        F.max("const").alias("c_max"),
        F.sum("y").alias("sy"),
    ).collect()[0]
    assert stats["mx"] == pytest.approx(0.0, abs=1e-9)
    assert stats["qx"] == pytest.approx(1.0, abs=1e-6)  # population variance
    # constant column: centered to 0 with divisor 1.0, never NaN
    assert stats["c_min"] == 0.0 and stats["c_max"] == 0.0
    assert stats["sy"] == 5.0  # labels pass through untouched


def test_standardize_empty_raises(spark):
    df = spark.createDataFrame([], "x double, y double")
    with pytest.raises(ValueError):
        standardize(df, ["x"], label_cols=["y"])


def test_logit_fit_empty_input_raises(spark):
    from ambient_sound_analysis_api_spark.operators.mlfit import logit_gd_fit

    feat = spark.createDataFrame([], "x double, y double")
    with pytest.raises(ValueError, match="empty input"):
        logit_gd_fit(feat, ["x"], "y", n_steps=1)


def test_logit_fit_max_rows_guard(spark):
    """The bounded-fit-input contract is enforced, not just documented:
    a frame above max_rows fails fast with an actionable message, and
    max_rows=None opts out."""
    from ambient_sound_analysis_api_spark.operators.mlfit import logit_gd_fit

    feat = spark.range(20).select(
        (F.col("id") % 3).cast("double").alias("x"),
        (F.col("id") % 2).cast("double").alias("y"),
    )
    with pytest.raises(ValueError, match="max_rows"):
        logit_gd_fit(feat, ["x"], "y", n_steps=1, max_rows=10)
    rows, w = logit_gd_fit(feat, ["x"], "y", n_steps=1, max_rows=None)
    assert len(rows) == 2 and len(w) == 2


def test_logit_select_memoizes_and_is_consistent(spark, sf_dir):
    """The apply step: one fit populates the model memo, a second
    invocation serves from it, and the keep decision is exactly the
    p >= 0.5 gate on the emitted score."""
    import os

    from ambient_sound_analysis_api_spark import registry

    key = (os.path.join(sf_dir, "documents.parquet"), "logit", 4, 2.0, 0.75)
    registry._ARTIFACTS.pop(key, None)
    first = registry.q_pipeline_logit_select(spark, sf_dir).collect()
    entry = registry._ARTIFACTS[key]
    again = registry.q_pipeline_logit_select(spark, sf_dir).collect()
    assert registry._ARTIFACTS[key] is entry  # served from the store
    assert first == again
    assert all(r["keep"] == (1 if r["score"] >= 0.5 else 0) for r in first)
    assert {r["keep"] for r in first} == {0, 1}  # the gate actually splits
