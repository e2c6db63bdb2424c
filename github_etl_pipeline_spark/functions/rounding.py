"""Rounding-mode choice (reference F3).

The reference rounds with numpy/pandas/python ``round`` — banker's
rounding (half-to-even). Spark's ``F.round`` is HALF_UP; ``F.bround`` is
HALF_EVEN and is the parity-correct choice for golden comparison against
the reference's committed outputs (e.g. the per-term ``round(...,4)``
inside volatility, etl/transform.py:121).

For the DuckDB-oracle queries we instead use plain ``F.round`` paired
with DuckDB ``round`` (both half-away-from-zero for positives) so both
engines round identically.
"""

from __future__ import annotations

from pyspark.sql import functions as F


# mode -> Spark function name: HALF_EVEN for parity with numpy/pandas
# (golden tests), HALF_UP for parity with DuckDB round (oracle queries)
_ROUNDING_FUNCTIONS = {"bankers": "bround", "half_up": "round"}


def rounder_sql(mode: str) -> str:
    """The SQL name of the rounding function for ``mode``: 'bankers' or
    'half_up'. Any other value raises, so a typo cannot silently pick a
    mode."""
    try:
        return _ROUNDING_FUNCTIONS[mode]
    except KeyError:
        raise ValueError(f"unknown rounding mode: {mode}") from None


def rounder(mode: str):
    """``rounder_sql(mode)`` as the ``pyspark.sql.functions`` function."""
    return getattr(F, rounder_sql(mode))
