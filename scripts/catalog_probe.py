"""Catalog-at-scale probe: list ~1M synthetic archive keys through
``ShardedKeyLister`` and show the catalog build is time- and
driver-memory-bounded.

The walk mirrors the reference's boto3 pagination, executor-side: one
task per hydrophone prefix (50 shards of 1000-key pages), keys stream out
as Arrow batches, so driver time is O(shards) task scheduling and no key
list is built on the driver. The probe pins the cost envelope at 1000x the
realistic archive size (the reference's real archive is thousands of
keys).

Usage: python scripts/catalog_probe.py [n_keys]
Prints RES lines for NOTES.md.
"""

from __future__ import annotations

import os
import resource
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ambient_sound_analysis_api_spark.session import get_spark  # noqa: E402
from ambient_sound_analysis_api_spark.sources.catalog import (  # noqa: E402
    build_catalog,
)
from ambient_sound_analysis_api_spark.sources.listing import (  # noqa: E402
    auto_lister,
)


def rss_mb() -> int:
    return round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)


def main() -> int:
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    page_size = 1000
    # reference-grammar keys archive/{hydro}/{start}_{end}_{dt}s_{suffix}.parquet,
    # partitioned by hydrophone prefix: 50 shards, each walking n_keys/50
    # keys in 1000-key pages inside its task
    n_shards = 50
    per_shard = n_keys // n_shards
    shard_pages = per_shard // page_size

    spark = get_spark("catalog-probe")

    def factory():
        def pager(prefix, token):
            hydro = prefix.rstrip("/").rsplit("/", 1)[-1]
            i = int(token) if token else 0
            base = i * page_size
            keys = []
            for j in range(page_size):
                k = base + j
                month = (k % 12) + 1
                dt = (k % 4) + 1
                suffix = ("broadband", "3oct", "50hz")[k % 3]
                keys.append(
                    f"archive/{hydro}/2024{month:02d}01T000000_"
                    f"2024{month:02d}28T000000_{dt}s_{suffix}.parquet"
                )
            return keys, (str(i + 1) if i + 1 < shard_pages else None)

        return pager

    print("RES mode: sharded-executor")
    print("RES rss_before_mb:", rss_mb())
    # through the selection point Engine uses
    lister = auto_lister(
        pager_factory=factory,
        prefixes=[f"archive/hydro{i:02d}/" for i in range(n_shards)],
        max_pages=shard_pages + 1,
    )
    t0 = time.time()
    keys_df = lister.list_keys(spark)
    n_listed = keys_df.count()
    t1 = time.time()
    print(f"RES list_{n_keys}_keys_s:", round(t1 - t0, 2),
          "listed:", n_listed)
    print("RES rss_after_listing_mb:", rss_mb())
    cat = build_catalog(lister.list_keys(spark))
    rows = cat.count()
    t2 = time.time()
    print("RES build_catalog_s:", round(t2 - t1, 2), "catalog_rows:", rows)
    print("RES total_s:", round(t2 - t0, 2))
    print("RES rss_peak_mb:", rss_mb())
    assert rows > 0 and n_listed == n_keys
    return 0


if __name__ == "__main__":
    sys.exit(main())
