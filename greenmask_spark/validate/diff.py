"""Validate mode: original-vs-transformed diff + schema diff.

Reference: internal/db/postgres/cmd/validate.go + validate_utils/
json_document.go:69-207 — per-table diff document keyed by PK, marking
changed columns (and implicitly-changed ones: changed but not declared
affected); schema diff vs a previous snapshot
(pkg/toolkit/database_schema.go:26-63).

``diff_report`` joins original and transformed rows on the PK and adds
one null-safe change flag per column. ``validate`` diffs a ``limit(n)``
sample of each table, and at that size Spark plans each side as a
single-partition limit exchange feeding a broadcast join. The reference
materializes row pairs through storage instead.

``diff_counts`` summarises the diffs of every table at once: each diff
becomes one aggregate row (its index, rows, changed rows), and the union
of those rows is collected by one action, so all tables share one SQL
execution instead of paying planning and job overhead per table.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def diff_report(
    original: DataFrame,
    transformed: DataFrame,
    pk: list[str],
    columns: list[str] | None = None,
) -> DataFrame:
    """Per-row diff: PK columns + n_changed + chg_<col> boolean per compared
    column. Null-safe comparison (``eqNullSafe``)."""
    cols = columns or [c for c in original.columns if c not in pk]
    o = original.alias("o")
    t = transformed.alias("t")
    cond = None
    for k in pk:
        c = F.col(f"o.{k}") == F.col(f"t.{k}")
        cond = c if cond is None else (cond & c)
    joined = o.join(t, cond, "inner")
    flags = {
        c: ~F.col(f"o.{c}").eqNullSafe(F.col(f"t.{c}")) for c in cols
    }
    n_changed = None
    for c, flag in flags.items():
        term = flag.cast("int")
        n_changed = term if n_changed is None else (n_changed + term)
    return joined.select(
        *[F.col(f"o.{k}").alias(k) for k in pk],
        n_changed.cast("int").alias("n_changed"),
        *[flags[c].alias(f"chg_{c}") for c in cols],
    )


def diff_counts(diffs: list[DataFrame]) -> list[tuple[int, int]]:
    """``(rows, changed rows)`` of each ``diff_report`` frame, in input
    order, from one ``collect()``. A row is changed when ``n_changed > 0``.
    """
    if not diffs:
        return []
    parts = [
        d.agg(F.expr("count(*) AS rows"),
              F.expr("count_if(n_changed > 0) AS changed"))
        .selectExpr(f"{i} AS i", "rows", "changed")
        for i, d in enumerate(diffs)
    ]
    got = {
        r["i"]: (r["rows"], r["changed"])
        for r in reduce(DataFrame.union, parts).collect()
    }
    return [got[i] for i in range(len(diffs))]


def implicit_changes(
    diff: DataFrame, declared_affected: list[str]
) -> list[str]:
    """Columns that changed anywhere but were not declared affected
    (reference validate_utils/utils.go:14-57)."""
    chg_cols = [c for c in diff.columns if c.startswith("chg_")]
    agg = diff.agg(
        *[F.max(F.col(c).cast("int")).alias(c) for c in chg_cols]
    ).collect()[0]
    out = []
    for c in chg_cols:
        col_name = c[len("chg_"):]
        if agg[c] and col_name not in declared_affected:
            out.append(col_name)
    return out


def schema_diff(before: T.StructType, after: T.StructType) -> list[dict]:
    """StructType diff: column added/removed/type-changed (reference
    DatabaseSchema.Diff, pkg/toolkit/database_schema.go:33-63)."""
    b = {f.name: f.dataType.simpleString() for f in before.fields}
    a = {f.name: f.dataType.simpleString() for f in after.fields}
    events = []
    for name in sorted(set(b) - set(a)):
        events.append({"event": "column_removed", "column": name, "type": b[name]})
    for name in sorted(set(a) - set(b)):
        events.append({"event": "column_added", "column": name, "type": a[name]})
    for name in sorted(set(a) & set(b)):
        if a[name] != b[name]:
            events.append(
                {"event": "column_type_changed", "column": name,
                 "from": b[name], "to": a[name]}
            )
    return events
