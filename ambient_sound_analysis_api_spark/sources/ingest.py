"""Ingest: write canonical long-form tables in a layout Catalyst can prune.

The reference consumes wide pandas frames (DatetimeIndex × N band columns,
``app/services/get_timeseries.py:309-328``) whose column sets drift across
archives (``docs/upstream-notes.md:55``). The engine keeps products in long
form (``sources/domain.py`` derives them from ``events``), so band-set drift
becomes a *data* difference, not a *schema* difference (SURVEY.md §1.3),
and writes them as:

    <root>/product=<freq_type>_<delta_f>_<delta_t>/hydrophone=<slug>/
        month=<yyyy-MM>/part-*.parquet

At 100 TB this layout gives: partition pruning on (product, hydrophone,
month) replacing the reference's filename pruning, plus Parquet row-group
stats on ``ts`` for intra-file pruning the reference lacks
(``docs/upstream-notes.md:60-74``).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def month_key(t: datetime) -> str:
    """The ``month`` partition value ``write_partitioned`` gives a row at
    ``t``; ``yyyy-MM`` strings sort in month order, so a range over them
    prunes month partitions."""
    return f"{t.year:04d}-{t.month:02d}"


def write_partitioned(df: DataFrame, root: str, mode: str = "overwrite") -> None:
    """Write a long-form table in the prunable layout described above
    (the Spark pattern of ``month_key``)."""
    (
        df.withColumn("month", F.date_format("ts", "yyyy-MM"))
        .repartition("hydrophone", "month")
        .sortWithinPartitions("ts")
        .write.mode(mode)
        .partitionBy("freq_type", "delta_f", "delta_t", "hydrophone", "month")
        .parquet(root)
    )
