"""Archive key listing adapters: where the catalog's keys come from.

The reference builds its inventory from a paginated S3 listing
(``app/services/get_options.py:103`` — boto3 ``list_objects_v2`` pages).
The engine keeps that boundary behind a tiny interface so the *production*
wiring is a constructor argument, not a rewrite:

- :class:`ParquetKeyLister` — reads a staged ``archive_keys.parquet``
  (the default, written by ``sources.domain.materialize_domain``).
- :class:`ShardedKeyLister` — walks any ``(prefix, token) ->
  (keys, next_token)`` pager to exhaustion inside Spark tasks, one task
  per prefix shard; :func:`s3_pager` adapts a boto3-style client's public
  ``list_objects_v2`` shape to that pager signature without importing any
  SDK (the client is injected, so tests use a fake).

Scale note: the listing is bounded by archive *file* count (one file per
hydrophone-product-month — thousands of keys at 100 TB of data), and its
keys stream out of the tasks as Arrow batches, so no key list is built on
the driver; the result feeds ``build_catalog``, one row per product.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

# (prefix, continuation_token) -> (keys_in_page, next_token_or_None)
Pager = Callable[[str, "str | None"], "tuple[list[str], str | None]"]


class ParquetKeyLister:
    """Keys from a staged single-column parquet file (the default)."""

    def __init__(self, path: str):
        self.path = path

    def list_keys(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path).select("key")


class ShardedKeyLister:
    """Keys from a paginated object listing (the production S1 edge),
    walked executor-side: one task per prefix shard.

    The shard list (hash prefixes, per-source prefixes — whatever
    partitions the namespace) becomes a tiny DataFrame, ``mapInPandas``
    walks each shard's pages inside its own task, and keys stream out as
    ordinary Arrow batches: no key list ever materializes on the driver OR
    whole in an executor (pages yield as they arrive), and listing
    throughput scales with executor count like every other stage. A
    namespace with no prefix structure is the one shard ``""``: one task
    walks every page.

    ``pager_factory`` is a zero-arg callable constructed ON THE EXECUTOR
    (serialized by closure pickling) returning the ``(prefix, token) ->
    (keys, next_token)`` pager: the token is ``None`` on the first call,
    and a ``None`` next token ends that prefix. A live client (boto3 etc.)
    is NOT picklable, so the factory builds one per task (the standard
    client-per-task pattern). Python workers must be able to import this
    package when the factory calls into it (e.g. :func:`s3_pager`).

    ``max_pages`` bounds runaway pagination per shard: a pager that never
    returns ``None`` fails the task loudly instead of looping forever.
    """

    def __init__(
        self,
        pager_factory: Callable[[], Pager],
        prefixes: Iterable[str] = ("",),
        max_pages: int = 10_000,
    ):
        self.pager_factory = pager_factory
        self.prefixes = list(prefixes)
        self.max_pages = max_pages
        if not self.prefixes:
            raise ValueError("ShardedKeyLister needs at least one prefix")

    def list_keys(self, spark: SparkSession) -> DataFrame:
        import pandas as pd

        factory = self.pager_factory
        max_pages = self.max_pages

        def walk(batches):
            pager = factory()
            for pdf in batches:
                for prefix in pdf["prefix"]:
                    token = None
                    for _ in range(max_pages):
                        page, token = pager(prefix, token)
                        if page:
                            yield pd.DataFrame({"key": page})
                        if token is None:
                            break
                    else:
                        raise RuntimeError(
                            f"listing for prefix {prefix!r} exceeded "
                            f"{max_pages} pages without completing"
                        )

        prefix_df = spark.createDataFrame(
            [(p,) for p in self.prefixes], "prefix string"
        ).repartition(len(self.prefixes))
        return prefix_df.mapInPandas(walk, "key string")


def auto_lister(
    *,
    path: "str | None" = None,
    pager_factory: "Callable[[], Pager] | None" = None,
    prefixes: Iterable[str] = ("",),
    max_pages: int = 10_000,
):
    """The lister ``Engine`` and the probes construct through:

    - ``path`` → :class:`ParquetKeyLister` (staged manifest);
    - ``pager_factory`` → :class:`ShardedKeyLister` over ``prefixes``
      (``max_pages`` bounds each shard's walk).

    Exactly one key source must be given. A live client must come through
    ``pager_factory``: it is built per task on the executor, because a
    live client does not pickle.
    """
    if (path is None) == (pager_factory is None):
        raise ValueError("auto_lister: pass exactly one of path=, pager_factory=")
    if path is not None:
        return ParquetKeyLister(path)
    return ShardedKeyLister(pager_factory, prefixes, max_pages=max_pages)


def s3_pager(client, bucket: str) -> Pager:
    """Adapt a boto3-style client (public ``list_objects_v2`` call shape:
    Bucket/Prefix/ContinuationToken → Contents/IsTruncated/
    NextContinuationToken) to the :class:`ShardedKeyLister` pager
    signature. The client is injected — no SDK import here, so the tests
    drive this with a fake and production passes the real client."""

    def page(prefix: str, token: "str | None"):
        kwargs = {"Bucket": bucket, "Prefix": prefix}
        if token is not None:
            kwargs["ContinuationToken"] = token
        resp = client.list_objects_v2(**kwargs)
        keys = [o["Key"] for o in resp.get("Contents", [])]
        next_token = (
            resp.get("NextContinuationToken")
            if resp.get("IsTruncated")
            else None
        )
        return keys, next_token

    return page
