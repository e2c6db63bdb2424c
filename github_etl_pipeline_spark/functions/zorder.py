"""Z-order (Morton) interleaved sort keys for multi-dimensional data
skipping.

Sorting a table by one column gives parquet min/max row-group pruning on
that column only; interleaving the bits of several normalized columns
gives locality on ALL of them at once, so point/range filters on any
participating column skip most row groups (the standard Delta/Iceberg
OPTIMIZE ZORDER technique, here as a plain expression usable with any
sorted parquet write).

The key is built from pure integer shift/and/or arithmetic, generated as
a SQL string so the IDENTICAL expression runs on Spark (F.expr) and
DuckDB (oracle) — no UDF, whole-stage-codegen friendly, O(bits) ops/row.
"""

from __future__ import annotations


def zorder_sql(cols: list[str], bits: int = 16) -> str:
    """SQL expression interleaving the low ``bits`` bits of each (already
    bucketized, non-negative integer) column in ``cols``. Bit b of column
    i lands at output position ``b * len(cols) + i`` — the classic Morton
    layout. len(cols) * bits must fit a BIGINT (<= 62)."""
    n = len(cols)
    if not cols:
        raise ValueError("zorder_sql: need at least one column")
    if n * bits > 62:
        raise ValueError(f"zorder_sql: {n} cols x {bits} bits exceeds BIGINT")
    terms = [
        f"((({c} >> {b}) & 1) << {b * n + i})"
        for i, c in enumerate(cols)
        for b in range(bits)
    ]
    return " + ".join(terms)

