from __future__ import annotations

from datetime import datetime

import pandas as pd

from ambient_sound_analysis_api_spark.sources.catalog import (
    build_catalog,
    parse_archive_keys,
)

KEYS = [
    # well-formed: 2 months broadband @1s, 1 month 3oct @1s, 1 month 50hz @10s
    "arch/orcasound_lab/20200101T000000_20200201T000000_1s_broadband.parquet",
    "arch/orcasound_lab/20200201T000000_20200301T000000_1s_broadband.parquet",
    "arch/orcasound_lab/20200101T000000_20200201T000000_1s_3oct.parquet",
    "arch/orcasound_lab/20200101T000000_20200201T000000_10s_50hz.parquet",
    # reference failure modes (docs/upstream-notes.md:19-25; get_options.py:111-120)
    "arch/orcasound_lab/bush.parquet",              # malformed → skipped
    "arch/orcasound_lab/readme.txt",                # non-parquet → filtered
    "arch/orcasound_lab/ancient_20200101T000000_20200201T000000_1s_broadband.parquet",
]


def _keys(spark):
    return spark.createDataFrame(pd.DataFrame({"key": KEYS}))


def test_parse_skips_malformed_and_filters(spark):
    parsed = parse_archive_keys(_keys(spark)).collect()
    assert len(parsed) == 4
    assert all(r["hydrophone"] == "ORCASOUND_LAB" for r in parsed)


def test_catalog_coverage(spark):
    cat = build_catalog(_keys(spark)).collect()
    by_key = {(r["freq_type"], r["delta_f"], r["delta_t"]): r for r in cat}
    bb = by_key[("broadband", None, 1)]
    assert bb["file_count"] == 2
    assert bb["first_start"] == datetime(2020, 1, 1)
    assert bb["last_end"] == datetime(2020, 3, 1)
    assert ("octave_bands", 3, 1) in by_key
    assert ("delta_hz", 50, 10) in by_key


def test_coverage_islands_merges_nested_and_reports_gaps(spark):
    """Gaps-and-islands over file intervals: adjacency merges, an
    interval NESTED inside an earlier one must not split the island
    (running max, not lag), and gaps report in seconds."""
    from datetime import datetime as dt

    from ambient_sound_analysis_api_spark.sources.catalog import (
        coverage_islands,
    )

    rows = [
        # island 1: [0h,2h) + nested [0h30,1h) + adjacent [2h,3h)
        ("H", "broadband", None, 1, dt(2024, 1, 1, 0), dt(2024, 1, 1, 2)),
        ("H", "broadband", None, 1, dt(2024, 1, 1, 0, 30), dt(2024, 1, 1, 1)),
        ("H", "broadband", None, 1, dt(2024, 1, 1, 2), dt(2024, 1, 1, 3)),
        # 1h hole, island 2: [4h,5h)
        ("H", "broadband", None, 1, dt(2024, 1, 1, 4), dt(2024, 1, 1, 5)),
        # other product: one island
        ("H", "delta_hz", 50, 1, dt(2024, 1, 1, 0), dt(2024, 1, 1, 1)),
    ]
    files = spark.createDataFrame(
        rows,
        "hydrophone string, freq_type string, delta_f int, delta_t int, "
        "file_start timestamp, file_end timestamp",
    )
    out = {
        (r.hydrophone, r.freq_type): r
        for r in coverage_islands(files).collect()
    }
    bb = out[("H", "broadband")]
    assert bb.n_files == 4 and bb.n_islands == 2
    assert bb.covered_secs == 3 * 3600 + 3600  # [0,3h) + [4h,5h)
    assert bb.max_gap_secs == 3600
    dh = out[("H", "delta_hz")]
    assert dh.n_islands == 1 and dh.max_gap_secs == 0
