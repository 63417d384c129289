"""MERGE/upsert: last-writer-wins key merge of a changes table into a base.

The reference is read-only over immutable archives, but any engine feeding
a training pipeline needs the CDC shape: corrections/late-arriving rows
replacing matching base rows, new rows appending. Without a table format
(no Delta/Iceberg in this environment) the *relational* core of MERGE INTO
is still expressible as one full-outer join with column-wise precedence —
which is exactly what those formats execute underneath.

Scale notes: the join shuffles both sides on the key; with the base
bucketed on the key only the (small) changes side moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(base: DataFrame, changes: DataFrame, keys: list[str]) -> DataFrame:
    """Return ``base`` MERGEd with ``changes``: matched keys take the
    changes row (last writer wins), unmatched changes rows insert, unmatched
    base rows pass through.

    Both inputs must share a schema. Non-key columns resolve via
    ``coalesce(changes.col, base.col)`` with an explicit matched flag so a
    legitimately-NULL changes value still wins on matched keys.
    """
    non_keys = [c for c in base.columns if c not in keys]
    if set(base.columns) != set(changes.columns):
        raise ValueError("merge_upsert requires identical schemas")
    b = base.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"__b_{c}") for c in non_keys],
        F.lit(True).alias("__in_b"),
    )
    c = changes.select(
        *[F.col(k) for k in keys],
        *[F.col(x).alias(f"__c_{x}") for x in non_keys],
        F.lit(True).alias("__in_c"),
    )
    joined = b.join(c, keys, "full_outer")
    cols = [F.col(k) for k in keys]
    matched = F.col("__in_c").isNotNull()
    for x in non_keys:
        cols.append(
            F.when(matched, F.col(f"__c_{x}")).otherwise(F.col(f"__b_{x}")).alias(x)
        )
    return joined.select(*cols)


def forget_rows(
    base: DataFrame, tombstones: DataFrame, keys: list[str]
) -> DataFrame:
    """The relational core of right-to-be-forgotten erasure: every base
    row whose key appears in ``tombstones`` is removed (left-anti join —
    duplicate tombstones are harmless, the join is set-semantic). This is
    what DELETE FROM ... WHERE key IN (...) executes underneath."""
    return base.join(
        tombstones.select(*keys).distinct(), keys, "left_anti"
    )
