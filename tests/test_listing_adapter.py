"""Tests for the pluggable archive-key listing boundary (sources/listing.py).

A fake three-page pager and a fake boto3-shaped client prove the production
S1 edge (paginated listing → keys DF → catalog) without any SDK: the
executor-side ``ShardedKeyLister`` wired into ``Engine(key_lister=...)``
must serve requests identically to the staged-parquet default.
"""

from __future__ import annotations

import pytest

from ambient_sound_analysis_api_spark.sources.catalog import build_catalog
from ambient_sound_analysis_api_spark.sources.listing import (
    ParquetKeyLister,
    ShardedKeyLister,
    auto_lister,
    s3_pager,
)

KEYS = [
    "archive/click/20240101T000000_20240201T000000_1s_broadband.parquet",
    "archive/click/20240201T000000_20240301T000000_1s_broadband.parquet",
    "archive/view/20240101T000000_20240201T000000_1s_3oct.parquet",
    "archive/view/bush.parquet",  # malformed — parser must drop it
]


def test_paginated_lister_exhausts_pages_and_builds_catalog(spark):
    # the factory is pickled by value to the worker, so it is defined here
    # (a module-level one pickles by reference to this test module)
    pages = [KEYS[:2], KEYS[2:3], KEYS[3:]]

    def three_pages():
        def pager(prefix, token):
            i = 0 if token is None else int(token)
            next_token = str(i + 1) if i + 1 < len(pages) else None
            return pages[i], next_token

        return pager

    # one shard walks every page in one task; the exact page order shows
    # the token was threaded page to page and None ended the walk
    for prefix in ("archive/", ""):
        lister = ShardedKeyLister(three_pages, prefixes=[prefix])
        keys_df = lister.list_keys(spark)
        assert [r["key"] for r in keys_df.collect()] == KEYS
    cat = build_catalog(keys_df).collect()
    assert {(r["hydrophone"], r["freq_type"]) for r in cat} == {
        ("CLICK", "broadband"), ("VIEW", "octave_bands"),
    }
    assert all(r["file_count"] >= 1 for r in cat)  # malformed key dropped


def test_s3_pager_adapts_boto3_shape():
    class FakeClient:
        def __init__(self):
            self.requests = []

        def list_objects_v2(self, **kwargs):
            self.requests.append(kwargs)
            if "ContinuationToken" not in kwargs:
                return {
                    "Contents": [{"Key": k} for k in KEYS[:2]],
                    "IsTruncated": True,
                    "NextContinuationToken": "t2",
                }
            return {"Contents": [{"Key": k} for k in KEYS[2:]],
                    "IsTruncated": False}

    client = FakeClient()
    page = s3_pager(client, "noise-archive")
    assert page("archive/", None) == (KEYS[:2], "t2")
    assert page("archive/", "t2") == (KEYS[2:], None)
    assert client.requests[0] == {"Bucket": "noise-archive",
                                  "Prefix": "archive/"}
    assert client.requests[1]["ContinuationToken"] == "t2"


def test_parse_archive_keys_malformed_skip_is_unconditional(spark):
    """Malformed keys must be SKIPPED regardless of plan shape: under ANSI
    a plain cast of the empty regexp group throws when the optimizer
    eagerly evaluates a LocalRelation projection (Arrow-built listings) —
    the try_cast form must survive both plan shapes."""
    import pandas as pd

    from ambient_sound_analysis_api_spark.sources.catalog import (
        parse_archive_keys,
    )

    keys = [
        "archive/click/bush.parquet",      # malformed -> skipped
        "archive/click/readme.txt",        # non-parquet -> skipped
        "archive/click/20240101T000000_20240201T000000_1s_broadband.parquet",
    ]
    # Arrow/LocalRelation shape (optimizer-eager evaluation)
    local = spark.createDataFrame(pd.DataFrame({"key": keys}))
    rows = parse_archive_keys(local).collect()
    assert [r["delta_t"] for r in rows] == [1]
    # RDD-backed shape (runtime evaluation)
    rdd_df = spark.createDataFrame([(k,) for k in keys], "key string")
    rows2 = parse_archive_keys(rdd_df).collect()
    assert [r["key"] for r in rows2] == [r["key"] for r in rows]


def test_sharded_lister_matches_driver_lister(spark):
    """Executor-side sharded walking must produce exactly the key set a
    driver-side Python walk of the same pages produces, and the plan must
    be the Arrow mapInPandas fan-out (one task per shard), not a
    driver-built local relation."""

    def factory():
        def pager(prefix, token):
            i = int(token) if token else 0
            keys = [f"{prefix}{i:02d}_{j}.parquet" for j in range(5)]
            return keys, (str(i + 1) if i + 1 < 3 else None)

        return pager

    prefixes = [f"archive/h{i:02d}/" for i in range(8)]
    expected = sorted(
        f"{p}{i:02d}_{j}.parquet"
        for p in prefixes for i in range(3) for j in range(5)
    )
    sharded = ShardedKeyLister(factory, prefixes=prefixes)
    assert sorted(r["key"] for r in sharded.list_keys(spark).collect()) == expected
    assert len(expected) == 8 * 3 * 5
    # the listing itself runs executor-side
    plan = sharded.list_keys(spark)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_sharded_lister_runaway_pager_fails_loudly(spark):
    def factory():
        return lambda prefix, token: (["k"], "again")

    lister = ShardedKeyLister(factory, prefixes=["a/"], max_pages=4)

    with pytest.raises(Exception, match="exceeded 4 pages"):
        lister.list_keys(spark).count()


def test_sharded_lister_feeds_catalog(spark):
    def factory():
        def pager(prefix, token):
            hydro = prefix.split("/")[1]
            return [
                f"archive/{hydro}/20240101T000000_20240201T000000_1s_broadband.parquet"
            ], None

        return pager

    lister = ShardedKeyLister(
        factory, prefixes=["archive/click/", "archive/view/"]
    )
    cat = build_catalog(lister.list_keys(spark)).collect()
    assert {r["hydrophone"] for r in cat} == {"CLICK", "VIEW"}


def test_auto_lister_selection_rules():
    """auto_lister: path → staged parquet; pager_factory → executor walk
    (one shard "" unless prefixes are given). Exactly one source."""

    def factory():
        return lambda prefix, token: ([f"{prefix}x.parquet"], None)

    assert isinstance(auto_lister(path="/x/keys.parquet"), ParquetKeyLister)
    sharded = auto_lister(pager_factory=factory, prefixes=["a/", "b/"])
    assert isinstance(sharded, ShardedKeyLister)
    assert sharded.prefixes == ["a/", "b/"]
    one_shard = auto_lister(pager_factory=factory, max_pages=7)
    assert isinstance(one_shard, ShardedKeyLister)
    assert one_shard.prefixes == [""] and one_shard.max_pages == 7
    with pytest.raises(ValueError, match="exactly one"):
        auto_lister()
    with pytest.raises(ValueError, match="exactly one"):
        auto_lister(path="/x", pager_factory=factory)
    # pager= is not a parameter: a live client comes through pager_factory
    with pytest.raises(TypeError):
        auto_lister(pager=factory())


def test_engine_accepts_injected_lister(spark, sf_dir, tmp_path):
    """Engine(key_lister=ShardedKeyLister(...)) with one shard walking every
    key serves identically to the staged-parquet default — the production
    wiring is one argument."""
    from ambient_sound_analysis_api_spark.serving import Engine
    from ambient_sound_analysis_api_spark.sources.domain import (
        materialize_domain,
    )

    root = str(tmp_path / "root")
    materialize_domain(spark, sf_dir, root)
    staged = [
        r["key"]
        for r in ParquetKeyLister(f"{root}/archive_keys.parquet")
        .list_keys(spark)
        .collect()
    ]

    def one_page():
        return lambda prefix, token: (staged, None)

    e_default = Engine(spark, root)
    e_injected = Engine(spark, root, key_lister=ShardedKeyLister(one_page))
    assert e_injected.options() == e_default.options()


def test_engine_through_auto_selected_sharded_lister(spark, sf_dir, tmp_path):
    """Prefix-sharded through a fake boto3 client that s3_pager adapts
    inside each task, the executor-side walk serves identically to the
    staged default."""
    from ambient_sound_analysis_api_spark.serving import Engine
    from ambient_sound_analysis_api_spark.sources.domain import (
        materialize_domain,
    )

    root = str(tmp_path / "root")
    materialize_domain(spark, sf_dir, root)
    staged = [
        r["key"]
        for r in ParquetKeyLister(f"{root}/archive_keys.parquet")
        .list_keys(spark)
        .collect()
    ]
    hydros = sorted({k.split("/")[1] for k in staged})
    assert len(hydros) >= 2  # the namespace is genuinely prefix-sharded
    by_prefix = {
        f"archive/{h}/": [k for k in staged if k.startswith(f"archive/{h}/")]
        for h in hydros
    }

    class FakeClient:
        """One key per page, so every shard threads continuation tokens."""

        def list_objects_v2(self, Bucket, Prefix, ContinuationToken="0"):
            keys = by_prefix.get(Prefix, [])
            i = int(ContinuationToken)
            more = i + 1 < len(keys)
            return {
                "Contents": [{"Key": k} for k in keys[i:i + 1]],
                "IsTruncated": more,
                "NextContinuationToken": str(i + 1) if more else None,
            }

    sharded = auto_lister(
        pager_factory=lambda: s3_pager(FakeClient(), "noise-archive"),
        prefixes=sorted(by_prefix),
    )
    assert isinstance(sharded, ShardedKeyLister)
    e_default = Engine(spark, root)
    e_sharded = Engine(spark, root, key_lister=sharded)
    assert e_sharded.options() == e_default.options()
