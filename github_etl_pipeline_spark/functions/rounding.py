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


def rounder(mode: str):
    """The rounding function for ``mode``: 'bankers' or 'half_up'.
    Any other value raises, so a typo cannot silently pick a mode."""
    if mode == "bankers":
        return F.bround  # parity with numpy/pandas half-even (golden tests)
    if mode == "half_up":
        return F.round  # parity with DuckDB round (oracle queries)
    raise ValueError(f"unknown rounding mode: {mode}")
