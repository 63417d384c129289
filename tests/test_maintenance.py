"""Table-maintenance audits (operators/maintenance.py): row-level
snapshot diffs and column-level schema-evolution diffs."""

from __future__ import annotations


def test_snapshot_diff_statuses_and_null_safety(spark):
    from ambient_sound_analysis_api_spark.operators.maintenance import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d")], "k int, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (5, "e")], "k int, v string"
    )
    d = {r["k"]: r["status"] for r in snapshot_diff(old, new, ["k"]).collect()}
    # NULL == NULL must read as unchanged (null-safe equality), NULL vs
    # value as changed — a concat/cast row-hash gets both wrong
    assert d == {
        1: "unchanged",
        2: "unchanged",
        3: "changed",
        4: "removed",
        5: "added",
    }


def test_snapshot_diff_marker_columns_cannot_collide(spark):
    """User columns named 'present' (or any _o_/_n_-style prefix) must not
    shadow the internal presence markers: the markers live outside the
    per-column alias pattern, and columns inside the reserved _sdiff_
    namespace are rejected up front."""
    from ambient_sound_analysis_api_spark.operators.maintenance import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, 1, "x"), (2, 0, "y")], "k int, present int, _o_v string"
    )
    new = spark.createDataFrame(
        [(1, 0, "x"), (3, 1, "z")], "k int, present int, _o_v string"
    )
    d = {r["k"]: r["status"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert d == {1: "changed", 2: "removed", 3: "added"}

    bad = spark.createDataFrame([(1, "a")], "k int, _sdiff_o_v string")
    import pytest

    with pytest.raises(ValueError, match="_sdiff_"):
        snapshot_diff(bad, bad, ["k"])


def test_snapshot_diff_respects_explicit_compare_cols(spark):
    from ambient_sound_analysis_api_spark.operators.maintenance import (
        snapshot_diff,
    )

    old = spark.createDataFrame([(1, "a", 10)], "k int, v string, w int")
    new = spark.createDataFrame([(1, "a", 99)], "k int, v string, w int")
    only_v = snapshot_diff(old, new, ["k"], compare_cols=["v"]).collect()
    assert only_v[0]["status"] == "unchanged"  # w excluded from compare
    full = snapshot_diff(old, new, ["k"]).collect()
    assert full[0]["status"] == "changed"


def test_schema_diff_statuses_widen_and_narrow(spark):
    """The four statuses + the compat verdict: int→bigint reads widened,
    bigint→int (the silent-truncation incident) reads incompatible."""
    from pyspark.sql import types as T

    from ambient_sound_analysis_api_spark.operators.maintenance import (
        schema_diff,
    )

    old = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.LongType()),
            T.StructField("gone", T.StringType()),
            T.StructField("old_name", T.TimestampType()),
        ]
    )
    new = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("a", T.LongType()),      # widened
            T.StructField("b", T.IntegerType()),   # narrowed → incompatible
            T.StructField("new_name", T.TimestampType()),  # unique rename
            T.StructField("fresh", T.DoubleType()),
        ]
    )
    rows = {r.column_name: r for r in schema_diff(spark, old, new).collect()}
    assert rows["k"].status == "unchanged" and rows["k"].compat is None
    assert rows["a"].status == "type_changed" and rows["a"].compat == "widened"
    assert (
        rows["b"].status == "type_changed"
        and rows["b"].compat == "incompatible"
    )
    assert (
        rows["new_name"].status == "renamed"
        and rows["new_name"].renamed_from == "old_name"
    )
    assert "old_name" not in rows  # collapsed into the renamed row
    # 'gone' (string) is removed, 'fresh' (double) added — different
    # types, so no rename is invented between them
    assert rows["gone"].status == "removed"
    assert rows["fresh"].status == "added"


def test_schema_diff_ambiguous_rename_degrades(spark):
    """TWO same-type removed candidates for one added column: no rename
    may be guessed — all three report as plain removed/added."""
    from pyspark.sql import types as T

    from ambient_sound_analysis_api_spark.operators.maintenance import (
        schema_diff,
    )

    old = T.StructType(
        [T.StructField("x", T.StringType()), T.StructField("y", T.StringType())]
    )
    new = T.StructType([T.StructField("z", T.StringType())])
    rows = {r.column_name: r.status for r in schema_diff(spark, old, new).collect()}
    assert rows == {"x": "removed", "y": "removed", "z": "added"}


def test_schema_diff_decimal_rule_and_paths(spark, sf_dir, tmp_path):
    """Decimal widening (precision-scale and scale both grow) vs
    incompatible scale loss; the schemas of two parquet paths, read off
    their footers, diff like any other."""
    from pyspark.sql import functions as F

    from ambient_sound_analysis_api_spark.operators.maintenance import (
        schema_diff,
        type_change_compat,
    )

    assert type_change_compat("decimal(10,2)", "decimal(20,4)") == "widened"
    assert type_change_compat("decimal(10,2)", "decimal(10,1)") == "incompatible"
    assert type_change_compat("DECIMAL(10,2)", "decimal(10,2)") is None
    assert type_change_compat("string", "int") == "incompatible"

    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").limit(5)
    cust.write.parquet(pa)
    cust.select(
        "c_custkey",
        F.col("c_acctbal").cast("float").alias("c_acctbal"),
    ).write.parquet(pb)
    diff = schema_diff(
        spark, spark.read.parquet(pa).schema, spark.read.parquet(pb).schema
    )
    rows = {r.column_name: r for r in diff.collect()}
    assert rows["c_custkey"].status == "unchanged"
    # double → float is a NARROW read off real parquet footers
    assert rows["c_acctbal"].status == "type_changed"
    assert rows["c_acctbal"].compat == "incompatible"
    assert rows["c_name"].status == "removed"
