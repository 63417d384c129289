"""Table-maintenance audits for plain Parquet snapshots.

Schema evolution (:func:`schema_diff`, with the :func:`type_change_compat`
widening rule) and row-level change detection (:func:`snapshot_diff`)
between two versions of a table: the changelog a Delta/Iceberg table
publishes with every snapshot, expressed over plain Parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: Safe type widenings (old → new reads every old value losslessly under
#: standard SQL numeric precedence; Parquet/Spark schema evolution accepts
#: exactly these directions). Everything else that changes a type is
#: ``incompatible`` — including the REVERSE of each row (a narrow), which
#: silently truncates/overflows and is the first production incident a
#: 100 TB ingest with ``mergeSchema`` hides.
SAFE_WIDENINGS: set[tuple[str, str]] = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("date", "timestamp"),
}


def _canon_type(t: str) -> str:
    """Normalize a type name to the repo's canonical (Spark
    ``simpleString``) spelling — lets DuckDB ``DESCRIBE`` output compare
    equal (``VARCHAR``→``string``, ``INTEGER``→``int``)."""
    t = t.lower()
    return {"varchar": "string", "integer": "int"}.get(t, t)


def type_change_compat(old_type: str, new_type: str) -> str | None:
    """``widened`` / ``incompatible`` verdict for a type change (``None``
    when the types are equal). Decimals widen when both the integer part
    (precision − scale) and the scale grow or stay equal."""
    o, n = _canon_type(old_type), _canon_type(new_type)
    if o == n:
        return None
    if (o, n) in SAFE_WIDENINGS:
        return "widened"
    if o.startswith("decimal(") and n.startswith("decimal("):
        po, so = map(int, o[8:-1].split(","))
        pn, sn = map(int, n[8:-1].split(","))
        if pn - sn >= po - so and sn >= so:
            return "widened"
    return "incompatible"


def schema_diff(spark: SparkSession, old_schema, new_schema) -> DataFrame:
    """Column-level schema-evolution audit between two snapshots:
    one row per column in either schema with ``status`` ∈ ``unchanged`` /
    ``type_changed`` / ``added`` / ``removed`` / ``renamed``, the
    normalized old/new type names, and for type changes a ``compat``
    verdict (``widened`` vs ``incompatible`` per :data:`SAFE_WIDENINGS` +
    the decimal rule). ``snapshot_diff`` answers "which ROWS changed";
    this answers the question a 100 TB ingest incident starts with —
    "which COLUMNS changed, and did the change silently narrow a type"
    (``mergeSchema`` absorbs drift rather than reporting it).

    Renames are inferred CONSERVATIVELY: a removed and an added column
    pair into one ``renamed`` row (``renamed_from`` carries the old name)
    only when they are each the UNIQUE removed/added column of their
    type — any ambiguity degrades to plain ``added`` + ``removed`` rows
    rather than guessing (unit-pinned).

    Schemas are footer metadata (``spark.read.parquet(path).schema`` is a
    footer-only read), so the comparison
    is legitimately driver-side: the output is bounded by column count,
    never data size.
    """
    oldm = {f.name: _canon_type(f.dataType.simpleString()) for f in old_schema}
    newm = {f.name: _canon_type(f.dataType.simpleString()) for f in new_schema}
    removed = {c: t for c, t in oldm.items() if c not in newm}
    added = {c: t for c, t in newm.items() if c not in oldm}

    def _unique_by_type(d: dict) -> dict:
        counts: dict[str, int] = {}
        for t in d.values():
            counts[t] = counts.get(t, 0) + 1
        return {t: c for c, t in d.items() if counts[t] == 1}

    rem1 = _unique_by_type(removed)
    add1 = _unique_by_type(added)
    renames = {
        add1[t]: rem1[t] for t in set(rem1) & set(add1)
    }  # new_name -> old_name

    rows = []
    for c, ot in oldm.items():
        if c in newm:
            nt = newm[c]
            if ot == nt:
                rows.append((c, "unchanged", ot, nt, None, None))
            else:
                rows.append(
                    (c, "type_changed", ot, nt, None,
                     type_change_compat(ot, nt))
                )
        elif c not in set(renames.values()):
            rows.append((c, "removed", ot, None, None, None))
    for c, nt in added.items():
        if c in renames:
            rows.append((c, "renamed", oldm[renames[c]], nt, renames[c], None))
        else:
            rows.append((c, "added", None, nt, None, None))
    return spark.createDataFrame(
        rows,
        "column_name string, status string, old_type string, "
        "new_type string, renamed_from string, compat string",
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff between two versions of a keyed table: one row per
    key present in either snapshot, with ``status`` ∈ ``added`` /
    ``removed`` / ``changed`` / ``unchanged`` — the audit a data-versioned
    warehouse publishes with every snapshot (Delta/Iceberg expose it as
    CDF/changelog scans; on plain Parquet it is one FULL OUTER join on the
    key).

    ``compare_cols`` defaults to every non-key column the two frames
    share. Change detection is COLUMN-WISE null-safe equality (Spark
    ``<=>`` / SQL ``IS NOT DISTINCT FROM``) — never a concatenated-string
    or cast-to-string hash, whose float formatting differs across engines
    and whose separator can collide with data. Scale: a single shuffle on
    the key for both sides; no collects; output is bounded by
    |old ∪ new| keys.

    Internal side-prefixed aliases use a deliberately unlikely namespace
    (``_sdiff_*``: per-column ``_sdiff_o_<col>``/``_sdiff_n_<col>`` plus
    the ``_sdiff_om``/``_sdiff_nm`` presence markers, which sit OUTSIDE
    the per-column pattern so no column name can alias onto them); a key
    or compare column that starts with ``_sdiff_`` raises ``ValueError``
    up front instead of mis-classifying rows — rename it before diffing.
    """
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    # presence markers: a dedicated non-null column per side, so NULL
    # values in data columns cannot be misread as absence. Marker/alias
    # collisions with user columns are rejected, not silently shadowed.
    for c in list(keys) + list(compare_cols):
        if c.startswith("_sdiff_"):
            raise ValueError(
                f"snapshot_diff: column {c!r} collides with the internal "
                "_sdiff_ alias namespace; rename it first"
            )
    o = old.select(
        *keys,
        *[F.col(c).alias(f"_sdiff_o_{c}") for c in compare_cols],
        F.lit(1).alias("_sdiff_om"),
    )
    n = new.select(
        *keys,
        *[F.col(c).alias(f"_sdiff_n_{c}") for c in compare_cols],
        F.lit(1).alias("_sdiff_nm"),
    )
    j = o.join(n, keys, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"_sdiff_o_{c}").eqNullSafe(F.col(f"_sdiff_n_{c}"))
    status = (
        F.when(F.col("_sdiff_om").isNull(), F.lit("added"))
        .when(F.col("_sdiff_nm").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*keys, status.alias("status"))
