"""Z-order (Morton) curve keys for multi-dimensional data layout.

Parquet pruning is only as good as the layout: sorting by one column
gives perfect min/max bounds on that column and useless bounds on every
other. Interleaving the bits of two scan dimensions (Morton code) and
range-partitioning + sorting by the interleaved key bounds BOTH
dimensions per file — a query filtering on either (or both) skips most
row groups. This is the same layout trick Delta/Iceberg expose as
``OPTIMIZE ... ZORDER BY``; here it is a plain column expression any
``repartitionByRange(...).sortWithinPartitions(...)`` write can use.

The key is pure JVM bit arithmetic (``shiftleft``/``shiftright``/AND/OR
folds) — zero Python, zero shuffle to compute, and exactly expressible
in ANSI SQL, so the registry query that audits layout locality is
value-hash-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def morton_code(a: Column, b: Column, bits: int) -> Column:
    """Interleave the low ``bits`` of non-negative ints ``a`` (even bit
    positions) and ``b`` (odd positions) into a single Z-curve key."""
    code = F.lit(0).cast("long")
    for j in range(bits):
        code = code.bitwiseOR(
            F.shiftleft(
                F.shiftright(a.cast("long"), j).bitwiseAND(F.lit(1)), 2 * j
            )
        )
        code = code.bitwiseOR(
            F.shiftleft(
                F.shiftright(b.cast("long"), j).bitwiseAND(F.lit(1)), 2 * j + 1
            )
        )
    return code


def morton_sql(a: str, b: str, bits: int) -> str:
    """The identical interleave as an ANSI/DuckDB SQL expression — used by
    the registry oracle so both engines compute the same key."""
    terms = []
    for j in range(bits):
        terms.append(f"((({a} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({b} >> {j}) & 1) << {2 * j + 1})")
    return " | ".join(terms)
