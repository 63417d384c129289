"""The staging + atomic-swap primitive (operators/atomic_swap.py) that the
streaming rollup and HLL stores rewrite through: the staged copy replaces
the table via renames, and no staging or old copy is left behind.
"""

from __future__ import annotations

import os

from ambient_sound_analysis_api_spark.operators import atomic_swap


def _no_staging_leftovers(tmp_path):
    return [p for p in os.listdir(tmp_path) if "__staging__" in p or "__old__" in p]


def test_swap_in_replaces_existing_dir(spark, tmp_path):
    dst = str(tmp_path / "t")
    spark.range(5).write.parquet(dst)
    staging = atomic_swap.staging_path(dst)
    spark.range(100, 103).write.parquet(staging)
    atomic_swap.swap_in(spark, staging, dst)
    assert sorted(r.id for r in spark.read.parquet(dst).collect()) == [100, 101, 102]
    assert _no_staging_leftovers(tmp_path) == []


def test_swap_in_creates_missing_dst(spark, tmp_path):
    dst = str(tmp_path / "new")
    staging = atomic_swap.staging_path(dst)
    spark.range(3).write.parquet(staging)
    atomic_swap.swap_in(spark, staging, dst)
    assert spark.read.parquet(dst).count() == 3
