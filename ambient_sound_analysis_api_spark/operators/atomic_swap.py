"""Crash-safe store rewrites for plain Parquet: staging dir + atomic swap.

``mode("overwrite")`` to the path being rewritten deletes the table before
the new files land — a mid-write failure (OOM, preemption, kill -9) loses
the data. Delta/Iceberg solve this with manifests; on plain Parquet the
portable equivalent is the classic staging protocol:

1. write the full result to a sibling ``<path>.__staging__.<token>`` dir
   (the read plan streams from the original files — no ``localCheckpoint``
   pin needed, since source and sink paths now differ);
2. swap directories via filesystem ``rename`` — atomic on POSIX and HDFS
   (on S3A, rename is copy+delete; there you'd front this with a real
   table format, which is exactly what those formats exist for).

A crash before the swap leaves the original table untouched (staging is
garbage to be collected); a crash between the two renames of a swap leaves
the old table at ``<path>.__old__.<token>`` and/or the new one staged —
both fully readable, nothing lost (:func:`recover_path` puts the newest
complete copy back). The streaming rollup and HLL stores swap through this
protocol; the index stores share :func:`_fs_and_path`.

All filesystem calls go through the JVM Hadoop ``FileSystem`` API, so the
protocol works unchanged on ``file:``/HDFS/GCS URIs.
"""

from __future__ import annotations

import uuid

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def staging_path(path: str) -> str:
    """Unique sibling staging dir for a rewrite of ``path``."""
    return f"{path}.__staging__.{uuid.uuid4().hex[:12]}"


def swap_in(spark: SparkSession, staging: str, path: str) -> None:
    """Replace ``path`` with ``staging`` via two renames.

    Crash-safety: the original is renamed aside (never deleted) before the
    staged result takes its place; only after the staged rename succeeds is
    the old copy deleted. Any interruption leaves at least one complete,
    readable copy on disk under a well-known name.
    """
    jvm = spark._jvm
    fs, dst = _fs_and_path(spark, path)
    src = jvm.org.apache.hadoop.fs.Path(staging)
    old = jvm.org.apache.hadoop.fs.Path(f"{path}.__old__.{uuid.uuid4().hex[:12]}")
    had_dst = fs.exists(dst)
    if had_dst and not fs.rename(dst, old):
        raise IOError(f"rename {dst} -> {old} failed")
    if not fs.rename(src, dst):
        # roll the original back into place before failing
        if had_dst:
            fs.rename(old, dst)
        raise IOError(f"rename {src} -> {dst} failed")
    if had_dst:
        fs.delete(old, True)


def recover_path(spark: SparkSession, path: str) -> str | None:
    """Repair the one non-atomic window in :func:`swap_in`: between its two
    renames the table exists only as ``<path>.__old__.<token>`` (plus the
    fully staged replacement) — a crash exactly there leaves ``path``
    missing, and a naive reader would treat the table as empty and silently
    restart state from scratch (permanent undercount for the streaming
    stores).

    If ``path`` is missing but a COMPLETE sibling copy from an interrupted
    swap exists (``<path>.__old__.*`` or ``<path>.__staging__.*`` carrying
    Hadoop's ``_SUCCESS`` marker — incomplete writes never have it), the
    newest complete copy (by modification time) is renamed back into
    place. Preferring the newest is correct for both streaming stores: a
    complete staging dir is the post-merge result (rollup's staged
    ``_meta`` batch id travels with it, so a replayed batch is still
    detected; the HLL store is idempotent by max-merge either way), and
    when the current swap's staging is incomplete the ``__old__`` copy
    wins, after which the at-least-once replay of the in-flight batch
    re-merges it. Non-chosen sibling copies are deliberately LEFT on disk
    (they are the only remaining backups until the next successful swap;
    a later swap's normal cleanup does not know about them, so prune them
    with ordinary directory hygiene). Returns the recovered sibling's
    path, or None when ``path`` exists or no complete copy was found (a
    no-op in normal operation — one ``exists`` probe)."""
    jvm = spark._jvm
    fs, dst = _fs_and_path(spark, path)
    if fs.exists(dst):
        return None
    parent = dst.getParent()
    base = dst.getName()
    if parent is None or not fs.exists(parent):
        return None
    cands = []
    for st in fs.listStatus(parent):
        name = st.getPath().getName()
        if name.startswith(f"{base}.__old__.") or name.startswith(
            f"{base}.__staging__."
        ):
            marker = jvm.org.apache.hadoop.fs.Path(
                str(st.getPath()) + "/_SUCCESS"
            )
            if fs.exists(marker):
                cands.append((st.getModificationTime(), str(st.getPath())))
    if not cands:
        return None
    cands.sort()
    best = jvm.org.apache.hadoop.fs.Path(cands[-1][1])
    if not fs.rename(best, dst):
        raise IOError(f"recover rename {best} -> {dst} failed")
    return cands[-1][1]
