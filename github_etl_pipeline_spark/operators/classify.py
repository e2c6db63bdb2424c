"""Pool classification expressions (reference F1, etl/transform.py:130-162;
spec confirmed by the design spreadsheet "config fields" sheet3 rows
tag / isFlat / max_multiplier).

Truth table:
  pool_type == '395'                      -> tag ['GAB','PFB']
  len > 4 and startswith '5'              -> tag ['PFB']
  otherwise                               -> tag ['REG']
  len > 4 and startswith '4'              -> is_flat = 1, max_multiplier = last 4 chars
  NULL or EMPTY pool_type                 -> tag ['UNKNOWN'], is_flat 0, mult NULL
    (the reference's check is FALSY (etl/transform.py:231), so '' — e.g. a
    file named 'Pool_0201_.pol' — classifies UNKNOWN exactly like None; the
    reference returns the bare string 'UNKNOWN' here — we normalize to a
    one-element array so the column type is stable; documented deviation)

Each rule is one ``CASE`` expression, written once as SQL text over a
column name (``*_sql``) — fully codegen'd, no UDFs — and parsed by one
JVM call when ``pool_kpis`` builds its plan.
"""

from __future__ import annotations


def _flat_sql(pt: str) -> str:
    return f"length({pt}) > 4 AND startswith({pt}, '4')"


def tag_sql(pool_type: str) -> str:
    # falsy check: '' behaves like NULL (reference etl/transform.py:231)
    pt = f"nullif({pool_type}, '')"
    return (
        f"CASE WHEN {pt} IS NULL THEN array('UNKNOWN') "
        f"WHEN {pt} = '395' THEN array('GAB', 'PFB') "
        f"WHEN length({pt}) > 4 AND startswith({pt}, '5') THEN array('PFB') "
        "ELSE array('REG') END"
    )


def is_flat_sql(pool_type: str) -> str:
    return f"CASE WHEN {_flat_sql(pool_type)} THEN 1 ELSE 0 END"


def max_multiplier_sql(pool_type: str) -> str:
    return f"CASE WHEN {_flat_sql(pool_type)} THEN substring({pool_type}, -4, 4) END"
