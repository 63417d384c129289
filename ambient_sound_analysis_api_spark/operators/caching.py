"""Tracked operator caches: persist-with-registry so library callers can
release them.

Several operators persist a mid-pipeline frame that both downstream join
branches re-read (the compact shingle arrays in ``dedup.ngram_jaccard_pairs``
and ``contamination.contamination_report``, the MinHash signature /
banded-bucket frames in ``dedup.minhash_lsh_pairs``). The persist is
load-bearing — without it the dominant tokenize/hash stage executes once per
branch — but it cannot be unpersisted inside the operator: the returned
DataFrame is lazy and still depends on the cache at materialization time.

In a long-lived session those caches would otherwise accumulate (one
corpus-sized entry per invocation). ``bench.py`` works around it with
``spark.catalog.clearCache()``; library callers get a scoped story instead:

- ``tracked_persist(df)`` — persist and remember the handle.
- ``release_caches()`` — unpersist every tracked handle (call after the
  results you care about are materialized, e.g. written or collected).

``release_caches`` is safe to call at any time: an unpersisted frame simply
recomputes if re-materialized later, so the worst case of releasing too
early is lost speed, never lost correctness. The registry is process-global
and the release is ALL-tracked-caches — call it at a quiescent point (after
materializing the results you care about), not concurrently with other
in-flight operator pipelines, whose caches it would also release (they then
recompute: slower, never wrong).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register the handle for later ``release_caches``.

    A frame whose plan is already cached is returned as is, untracked:
    persisting it again would only log ``Asked to cache already cached
    data``, and whoever cached it owns the release."""
    sl = df.storageLevel
    if sl.useMemory or sl.useDisk:
        return df
    p = df.persist()
    with _LOCK:
        _TRACKED.append(p)
    return p


def release_caches() -> int:
    """Unpersist every tracked operator cache; returns how many were freed."""
    with _LOCK:
        drained, _TRACKED[:] = _TRACKED[:], []
    n = 0
    for df in drained:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n
