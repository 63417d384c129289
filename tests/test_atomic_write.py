"""The store module (operators/atomic_swap.py): the staging + atomic-swap
primitive the streaming rollup and HLL stores rewrite through (the staged
copy replaces the table via renames, and no staging or old copy is left
behind), the batch admit's lost-race branch and its batch listing, the
never-written store read, and source guards that keep the filesystem
protocol in that one module and each vector-distance kernel in one place.
"""

from __future__ import annotations

import ast
import glob
import os

from ambient_sound_analysis_api_spark.operators import atomic_swap

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ambient_sound_analysis_api_spark",
)


def _package_modules():
    """(path relative to the package, AST, ids of docstring constants) for
    every package module."""
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.FunctionDef,
                                 ast.AsyncFunctionDef, ast.ClassDef))
            and node.body and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        yield os.path.relpath(path, PKG), tree, docstrings


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


def test_admit_batch_lost_race_drops_staging(spark, tmp_path):
    """A concurrent admission that commits the same batch between the
    existence gate and the rename wins: the loser returns False, its
    staging dir is gone, and the winner's files are untouched."""
    root = str(tmp_path / "store")
    target = os.path.join(root, "batch=3")

    def write(staging):
        spark.range(4).write.parquet(staging)
        # the winner commits while this admission is still staging
        os.makedirs(target)
        with open(os.path.join(target, "winner.parquet"), "w") as fh:
            fh.write("winner")

    assert atomic_swap.admit_batch(spark, root, 3, write) is False
    assert [p for p in os.listdir(root) if p.startswith(".staging")] == []
    assert sorted(os.listdir(target)) == ["winner.parquet"]
    with open(os.path.join(target, "winner.parquet")) as fh:
        assert fh.read() == "winner"


def test_admitted_batches_lists_committed_in_id_order(spark, tmp_path):
    """The read half of the batch admit lists committed ``batch=<id>``
    directories by numeric id (10 after 2) and never a staging dir."""
    root = str(tmp_path / "store")
    for name in ("batch=10", "batch=2", ".staging-batch-3-deadbeef0123"):
        os.makedirs(os.path.join(root, name))
    assert atomic_swap.admitted_batches(spark, root) == [
        f"{root}/batch=2", f"{root}/batch=10",
    ]
    assert atomic_swap.admitted_batches(spark, str(tmp_path / "none")) == []


def test_store_protocol_lives_in_one_module():
    """Only operators/atomic_swap.py touches the filesystem protocol: no
    other package module names ``_fs_and_path`` or ``org.apache.hadoop``
    in code, or calls ``os.rename``. Needs no SparkSession."""
    offenders = []
    for rel, tree, docstrings in _package_modules():
        if rel == os.path.join("operators", "atomic_swap.py"):
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                hit = node.id == "_fs_and_path"
            elif isinstance(node, ast.alias):
                hit = node.name == "_fs_and_path"
            elif isinstance(node, ast.Attribute):
                dotted = ast.unparse(node)
                hit = (node.attr == "_fs_and_path"
                       or dotted.endswith("org.apache.hadoop")
                       or dotted == "os.rename")
            elif isinstance(node, ast.ImportFrom):
                hit = node.module == "os" and any(
                    a.name == "rename" for a in node.names
                )
            elif isinstance(node, ast.Constant):
                hit = (isinstance(node.value, str) and id(node) not in docstrings
                       and "org.apache.hadoop" in node.value)
            else:
                continue
            if hit:
                offenders.append((rel, node.lineno))
    assert offenders == [], "store protocol outside atomic_swap.py: " + ", ".join(
        f"{rel}:{line}" for rel, line in sorted(offenders)
    )


def test_vector_kernels_live_in_one_module_each():
    """The exact-decimal squared-L2 (its ``decimal(38,18)`` accumulator)
    is written only in operators/similarity.py, and the only Lloyd's
    update loop (a ``for``/``while`` whose body calls ``decimal_mean``)
    is ``pq.pq_fit``. Needs no SparkSession."""
    offenders = []
    for rel, tree, docstrings in _package_modules():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
                and "decimal(38,18)" in node.value
                and rel != os.path.join("operators", "similarity.py")
            ):
                offenders.append((rel, node.lineno, "decimal(38,18)"))
            if (
                isinstance(node, (ast.For, ast.While))
                and rel != os.path.join("operators", "pq.py")
                and any(
                    isinstance(n, ast.Call)
                    and "decimal_mean"
                    in (getattr(n.func, "id", None), getattr(n.func, "attr", None))
                    for n in ast.walk(node)
                )
            ):
                offenders.append((rel, node.lineno, "Lloyd's loop"))
    assert offenders == [], "vector kernel copied: " + ", ".join(
        f"{rel}:{line} ({what})" for rel, line, what in sorted(offenders)
    )


def test_streams_start_in_one_module():
    """``streaming/windows.py`` is the one module that starts a stream:
    no other package module names ``readStream``, ``writeStream`` or
    ``awaitTermination`` in code (every ``foreachBatch`` store runs
    through ``windows.drain``). Needs no SparkSession."""
    names = {"readStream", "writeStream", "awaitTermination"}
    offenders = [
        f"{rel}:{node.lineno} ({node.attr})"
        for rel, tree, _ in _package_modules()
        if rel != os.path.join("streaming", "windows.py")
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr in names
    ]
    assert offenders == [], "stream driven outside windows.py: " + ", ".join(
        sorted(offenders)
    )


def test_never_written_store_is_not_read(spark, tmp_path, monkeypatch):
    """A store that was never written reads as None (``read_store``) and
    batch -1 (``last_merged_batch``) without any ``spark.read``: reading a
    missing path makes Spark log a ~60-line FileNotFoundException WARN."""
    from pyspark.sql.readwriter import DataFrameReader

    from ambient_sound_analysis_api_spark.streaming.rollup import last_merged_batch

    def refuse(self, *args, **kwargs):
        raise AssertionError("spark.read of a store that does not exist")

    monkeypatch.setattr(DataFrameReader, "parquet", refuse)
    monkeypatch.setattr(DataFrameReader, "json", refuse)
    store = str(tmp_path / "store")
    assert atomic_swap.read_store(spark, store) is None
    assert last_merged_batch(spark, store) == -1
