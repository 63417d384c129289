"""The one home of the engine's on-disk store protocols.

Every persisted store (the streaming rollup/HLL stores, the streamed
batch stores, the IVF-PQ, residual IVF-PQ and BM25 indexes) commits
through a filesystem ``rename`` here; the operator modules keep only
their index-specific writes and scoring. All filesystem calls go
through the JVM Hadoop ``FileSystem`` API (:func:`_fs_and_path`), so the
protocols work unchanged on ``file:``/HDFS/GCS URIs. The protocols:

- **Staging + swap** (:func:`staging_path`, :func:`swap_in`,
  :func:`recover_path`, :func:`read_store`): a crash-safe rewrite of a
  whole plain-Parquet table, used by ``streaming/rollup.py`` and
  ``streaming/hll.py``. ``mode("overwrite")`` to the path being
  rewritten deletes the table before the new files land — a mid-write
  failure (OOM, preemption, kill -9) loses the data. Delta/Iceberg solve
  this with manifests; on plain Parquet the portable equivalent is:

  1. write the full result to a sibling ``<path>.__staging__.<token>``
     dir (the read plan streams from the original files — no
     ``localCheckpoint`` pin needed, since source and sink paths differ);
  2. swap directories via ``rename`` — atomic on POSIX and HDFS (on S3A,
     rename is copy+delete; there you'd front this with a real table
     format, which is exactly what those formats exist for).

  A crash before the swap leaves the original table untouched (staging
  is garbage to be collected); a crash between the two renames of a swap
  leaves the old table at ``<path>.__old__.<token>`` and/or the new one
  staged — both fully readable, nothing lost (:func:`recover_path` puts
  the newest complete copy back, and :func:`read_store` runs it).
- **Batch admit** (:func:`admit_batch`, :func:`admitted_batches`):
  exactly-once admission of one micro-batch into its own
  ``<root>/batch=<id>`` directory via a dot-prefixed staging dir and one
  rename, used by ``streaming/ann.py``, ``streaming/lexical.py`` and
  ``streaming/takedown.py``. The rename is the commit and the target's
  existence is the replay gate; readers list the committed batches as
  explicit paths.
- **Versioned manifest store** (:func:`publish_version`,
  :func:`resolve_version`): immutable ``v-<seq>-<token>`` version
  directories published by an atomic rename of ``_manifests/m-<seq>.json``,
  with a same-sequence race retry and retention GC. It is the layer
  under the segmented store.
- **Segmented store** (:func:`new_segment`, :func:`publish_segments`,
  :func:`current_segments`, :func:`gc_unreferenced_segments`): versions
  of the manifest store that hold only a ``segments.json`` membership
  list, an optional ``tombstones/`` table and the caller's extra tables;
  segment data lives under ``<root>/segs/seg-<token>`` and is reclaimed
  once no retained version references it. Every persisted index
  publishes through it — the raw and residual IVF-PQ code stores and the
  BM25 postings store; a plain publish is the one-segment,
  tombstone-free case.
"""

from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import DataFrame, SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists on its filesystem (one ``exists`` probe)."""
    fs, p = _fs_and_path(spark, path)
    return fs.exists(p)


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
    ``_batch_id`` file travels with it, so a replayed batch is still
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


def read_store(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The current swapped store, or None before the first commit.

    A missing path is NOT trusted as "no store yet": a crash inside the
    swap's rename window leaves the store under a sibling name, and
    treating that as empty would permanently lose history (the rollup
    store) or undercount (the HLL store). :func:`recover_path` renames
    the newest complete sibling copy back first; only when no complete
    copy exists anywhere is None returned. The existence check keeps
    Spark from reading (and logging a ``FileNotFoundException`` for) a
    store that was never written."""
    recover_path(spark, store_path)
    if not path_exists(spark, store_path):
        return None
    return spark.read.parquet(store_path)


# ---------------------------------------------------------------------------
# batch admit: one micro-batch per ``batch=<id>`` directory, one rename


def admit_batch(spark: SparkSession, root: str, batch_id: int, write) -> bool:
    """Admit ONE micro-batch into ``<root>/batch=<batch_id>`` exactly once:
    ``write(staging)`` materializes the batch into a fresh staging dir and
    one rename commits it. Returns False when the batch was already
    admitted (crash replay) or a concurrent admission of the same batch
    id won the rename race; ``write`` then either never runs or its
    output is deleted.

    Crash anywhere: before the rename only a staging dir exists (readers,
    who read :func:`admitted_batches`, never see it, and the replayed
    batch stages again and commits); after the rename the replayed
    batch finds ``batch=<id>`` present and skips.

    Hadoop renames a directory onto an EXISTING directory by moving it
    inside (HDFS semantics, and the local filesystem's copy fallback), so
    a lost race shows up as our staging dir under the winner's target,
    not as a failed rename; either way ours is deleted. The winner
    committed identical rows (every admitter's ``write`` is deterministic
    in the batch), so dropping ours is correct."""
    target = f"{root}/batch={batch_id}"
    fs, dst = _fs_and_path(spark, target)
    if fs.exists(dst):
        return False
    # dot-prefixed staging: neither admitted_batches nor partition
    # discovery lists hidden dirs, so a crashed (never-renamed) staging
    # can NEVER pollute the batch partition column or leak rows to
    # readers — a sibling
    # "batch=<id>.__staging__" name would be parsed as a partition VALUE
    name = f".staging-batch-{batch_id}-{uuid.uuid4().hex[:12]}"
    write(f"{root}/{name}")
    fs.mkdirs(dst.getParent())
    src = spark._jvm.org.apache.hadoop.fs.Path(f"{root}/{name}")
    if fs.rename(src, dst):
        # landed inside an existing target: the race was lost after all
        src = spark._jvm.org.apache.hadoop.fs.Path(f"{target}/{name}")
        if not fs.exists(src):
            return True
    fs.delete(src, True)
    return False


def admitted_batches(spark: SparkSession, root: str) -> "list[str]":
    """The read half of :func:`admit_batch`: the committed
    ``<root>/batch=<id>`` directories in ascending id order (``[]`` when
    ``root`` does not exist). Dot-prefixed staging dirs are never
    listed. Readers pass these explicit paths to ``spark.read`` instead
    of a ``batch=*`` glob, for which Spark logs a
    ``FileNotFoundException`` stack trace on every read."""
    fs, p = _fs_and_path(spark, root)
    if not fs.exists(p):
        return []
    ids = []
    for st in fs.listStatus(p):
        m = re.fullmatch(r"batch=(\d+)", st.getPath().getName())
        if m and st.isDirectory():
            ids.append(int(m.group(1)))
    return [f"{root}/batch={i}" for i in sorted(ids)]


# ---------------------------------------------------------------------------
# versioned manifest store: immutable versions + manifest-pointer publish


def _index_manifest_dir(root: str) -> str:
    return f"{root}/_manifests"


def _list_index_manifests(spark, root: str) -> "list[tuple[int, str]]":
    """(seq, manifest path) for every published manifest under ``root``,
    ascending. A manifest only ever appears via an atomic rename, so
    anything listed is complete."""
    fs, mdir = _fs_and_path(spark, _index_manifest_dir(root))
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        m = re.fullmatch(r"m-(\d{9})\.json", st.getPath().getName())
        if m:
            out.append((int(m.group(1)), str(st.getPath())))
    out.sort()
    return out


def read_small_file(spark, path: str) -> str:
    """Read a small FS file (a manifest, a rollup store's batch id)
    through the JVM FileSystem API — py4j passes byte arrays by value, so
    the copy-free route is commons-io ``IOUtils.toString`` on the JVM
    side."""
    fs, p = _fs_and_path(spark, path)
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def write_small_file(spark, path: str, text: str) -> None:
    """Write a small FS file (segments.json, a rollup store's batch id)
    through the JVM FileSystem API — same route as the manifest writes in
    :func:`publish_version`."""
    fs, p = _fs_and_path(spark, path)
    out = fs.create(p, False)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def resolve_version(spark, root: str) -> "tuple[int, str] | None":
    """Resolve the CURRENT version under ``root``: the version directory
    named by the highest-sequence manifest. Returns ``(seq,
    version_path)`` or None when nothing is published yet.

    Contract: version directories are immutable once published and are
    retained for ``retain`` further refreshes (see
    :func:`publish_version`), so a reader may hold the resolved path —
    including inside a lazy DataFrame — across concurrent refreshes
    without ever observing a half-written or deleted table."""
    manifests = _list_index_manifests(spark, root)
    if not manifests:
        return None
    seq, mpath = manifests[-1]
    doc = json.loads(read_small_file(spark, mpath))
    return seq, f"{root}/{doc['version_dir']}"


def publish_version(
    spark,
    root: str,
    write_fn,
    retain: int = 2,
    fingerprint: "str | None" = None,
) -> str:
    """Write a NEW immutable version under ``root`` and atomically
    publish it via a manifest pointer: ``write_fn`` materializes the
    version into the directory it is handed, then the pointer flips.
    Every index family publishes its segmented versions
    (:func:`publish_segments`) through this one code path, so the store
    contract tests cover them all.

    - **writers never break readers**: the new version lands in its own
      ``v-<seq>-<token>`` directory; publication is ONE atomic rename of
      a manifest temp file to ``_manifests/m-<seq>.json``. A reader that
      resolved the previous manifest keeps scanning the previous
      version's directory, which is immutable and still on disk.
    - **crash-safe**: a writer dying mid-write leaves an orphan version
      directory with NO manifest — invisible to readers, reclaimed by a
      later publish's GC. A writer dying after the rename has published
      a complete version (the write finished before the rename).
    - **concurrent writers**: the manifest rename never overwrites; the
      loser of a same-sequence race retries with the next sequence
      number, so both versions publish in a total order and the higher
      sequence wins the pointer.
    - **cross-process GC with a read grace window**: after publishing
      sequence S, version directories (and manifests) with sequence
      ≤ S − ``retain`` are deleted — any reader is safe while it holds a
      version no more than ``retain`` refreshes old; long-lived handles
      should re-resolve per query (the registry serve path does).

    ``fingerprint`` (optional) is recorded in the manifest so a serving
    tier can skip republishing an unchanged dataset. Returns the
    published version path."""
    if retain < 1:
        raise ValueError("publish_version: retain must be >= 1")
    manifests = _list_index_manifests(spark, root)
    seq = (manifests[-1][0] if manifests else 0) + 1
    vname = f"v-{seq:09d}-{uuid.uuid4().hex[:8]}"
    write_fn(f"{root}/{vname}")
    fs, mdir = _fs_and_path(spark, _index_manifest_dir(root))
    jvm = spark._jvm
    fs.mkdirs(mdir)
    payload = json.dumps(
        {"version_dir": vname, "seq": seq, "fingerprint": fingerprint}
    ).encode("utf-8")
    while True:
        tmp = jvm.org.apache.hadoop.fs.Path(
            f"{_index_manifest_dir(root)}/.tmp-{uuid.uuid4().hex[:12]}"
        )
        out = fs.create(tmp, False)
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        dst = jvm.org.apache.hadoop.fs.Path(
            f"{_index_manifest_dir(root)}/m-{seq:09d}.json"
        )
        if fs.rename(tmp, dst):
            break
        # same-seq race lost: another writer published this sequence —
        # re-point the manifest at OUR version under the next sequence
        fs.delete(tmp, False)
        payload = json.dumps(
            {"version_dir": vname, "seq": seq + 1, "fingerprint": fingerprint}
        ).encode("utf-8")
        seq += 1

    # GC: anything retain-or-more refreshes behind the one just published
    cutoff = seq - retain
    for mseq, mpath in _list_index_manifests(spark, root):
        if mseq > cutoff:
            continue
        try:
            vdir = json.loads(read_small_file(spark, mpath))["version_dir"]
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/{vdir}"), True)
        except Exception:  # pragma: no cover - GC is best-effort
            pass
        fs.delete(jvm.org.apache.hadoop.fs.Path(mpath), False)
    # orphan version dirs (crashed writers: no manifest) older than the
    # grace window
    froot, rpath = _fs_and_path(spark, root)
    live = set()
    for mseq, mpath in _list_index_manifests(spark, root):
        try:
            live.add(json.loads(read_small_file(spark, mpath))["version_dir"])
        except Exception:  # pragma: no cover
            pass
    for st in froot.listStatus(rpath):
        name = st.getPath().getName()
        m = re.fullmatch(r"v-(\d{9})-[0-9a-f]{8}", name)
        if m and name not in live and int(m.group(1)) <= cutoff:
            froot.delete(st.getPath(), True)
    return f"{root}/{vname}"


# ---------------------------------------------------------------------------
# segmented store: membership versions + tombstone deletion


def new_segment(root: str) -> "tuple[str, str]":
    """``(name, path)`` of a fresh segment directory under ``root/segs``;
    the name is what a membership list (``segments.json``) records."""
    name = f"seg-{uuid.uuid4().hex[:12]}"
    return name, f"{root}/segs/{name}"


def gc_unreferenced_segments(spark, root: str) -> None:
    """Delete ``root/segs`` entries referenced by NO live version (runs
    after each segmented publish; :func:`publish_version`'s own GC has
    already dropped out-of-retention versions and manifests).

    Fail-safe contract: a version without ``segments.json`` legitimately
    contributes zero live segments, but ANY OTHER failure while building
    the liveness set — a transient manifest read error, malformed JSON —
    aborts the pass without deleting anything. Proceeding with a partial
    liveness set would let GC reclaim a segment a live (even the current)
    version still references; skipping a pass merely defers reclamation
    to the next publish."""
    live: set[str] = set()
    try:
        for _seq, mpath in _list_index_manifests(spark, root):
            doc = json.loads(read_small_file(spark, mpath))
            sj_path = f"{root}/{doc['version_dir']}/segments.json"
            if not path_exists(spark, sj_path):
                continue
            sj = read_small_file(spark, sj_path)
            live |= set(json.loads(sj)["segments"])
    except Exception:  # pragma: no cover - transient read failure
        return
    fs, segdir = _fs_and_path(spark, f"{root}/segs")
    if not fs.exists(segdir):
        return
    for st in fs.listStatus(segdir):
        if st.getPath().getName() not in live:
            fs.delete(st.getPath(), True)


def publish_segments(
    spark,
    root: str,
    seg_names: "list[str]",
    retain: int = 2,
    fingerprint: "str | None" = None,
    tombstones: "DataFrame | None" = None,
    write_tables=None,
) -> str:
    """Publish a membership version of a segmented store: the version
    directory holds ``segments.json``, the optional ``tombstones`` table
    and whatever ``write_tables(version_path)`` adds (BM25 writes its
    merged termstats/stats there). Segment data is shared across
    versions under ``root/segs`` and reclaimed by
    :func:`gc_unreferenced_segments` once no retained version references
    it. Returns the published version path.

    Segment GC assumes single-writer publishes: a concurrent writer's
    not-yet-published segment is invisible to the liveness scan."""

    def write_fn(vpath: str) -> None:
        if write_tables is not None:
            write_tables(vpath)
        if tombstones is not None:
            tombstones.write.mode("errorifexists").parquet(
                f"{vpath}/tombstones"
            )
        write_small_file(
            spark, f"{vpath}/segments.json",
            json.dumps({"segments": sorted(seg_names)}),
        )

    path = publish_version(
        spark, root, write_fn, retain=retain, fingerprint=fingerprint
    )
    gc_unreferenced_segments(spark, root)
    return path


def _read_tombstones(spark, vpath: str) -> "DataFrame | None":
    """The version's tombstone table (``doc_id``/``vec_id`` rows), or
    None for the tombstone-free layout (absence IS the common case: a
    version only carries the file when a delete published it and no
    compaction has folded it out yet)."""
    if not path_exists(spark, f"{vpath}/tombstones"):
        return None
    return spark.read.parquet(f"{vpath}/tombstones")


def current_segments(
    spark, root: str, caller: str
) -> "tuple[str, list[str], DataFrame | None]":
    """``(version path, segment names, tombstones or None)`` of the
    current version of the segmented store under ``root``; raises
    ``ValueError`` naming ``caller`` when nothing is published."""
    cur = resolve_version(spark, root)
    if cur is None:
        raise ValueError(f"{caller}: nothing published under {root}")
    vpath = cur[1]
    segs = json.loads(
        read_small_file(spark, f"{vpath}/segments.json")
    )["segments"]
    return vpath, segs, _read_tombstones(spark, vpath)
