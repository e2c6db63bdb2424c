"""Key-normalization scalar expressions (reference F2, J1).

The reference joins pool ids against the lookup with a 3-stage fallback
(exact, leading-zeros-stripped, lookup-side zfill(4) — etl/transform.py:202-211).
All three collapse into ONE equi-join when both sides are normalized to
"strip leading zeros, then left-pad to 4": ``'0201' -> '0201'``,
``'201' -> '0201'``, ``'6371' -> '6371'``, ``'0' / '000' -> '0000'``.

Edges where the fallback and the plain normalized join diverge:

  * dim side: two dim rows whose Pool_ids differ only in zero padding.
    The dim loader asserts normalized-key consistency (sources/lookup.py)
    to surface that case instead of silently picking one.
  * fact side: the reference's stages are ASYMMETRIC — stage 2 compares
    the STRIPPED fact id against the RAW dim id, and stage 3 the zfilled
    dim id against the RAW fact id. So fact '00201' (extra zeros beyond
    width 4) or fact '201' against dim '0201' match NOTHING in the
    reference, while a both-sides normalized join would match. The exact
    reference acceptance set, given a normalized-key match, is
    ``reference_match_sql`` below; pool_kpis applies it as a post-join
    gate so the single broadcast equi-join keeps reference fidelity.

Each rule is written once, as SQL text over column names (``*_sql``),
so a plan that uses it makes one JVM call to parse it instead of one per
Column operator; ``normalize_pool_id`` wraps its text in ``F.expr``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def strip_zeros_sql(col: str) -> str:
    """``lstrip('0') or '0'``: an all-zeros id becomes '0'
    (reference etl/transform.py:206)."""
    return f"coalesce(nullif(regexp_replace({col}, '^0+', ''), ''), '0')"


def zfill_sql(col: str, width: int = 4) -> str:
    """``str.zfill(width)``: pad when short, never truncate (lpad alone
    would truncate longer ids)."""
    return f"CASE WHEN length({col}) >= {width} THEN {col} ELSE lpad({col}, {width}, '0') END"


def normalize_pool_id_sql(col: str, width: int = 4) -> str:
    """Strip leading zeros then left-pad with zeros to ``width`` — the
    shared join key that makes all of the reference's fallback stages
    land in ONE equi-join bucket."""
    return zfill_sql(strip_zeros_sql(col), width)


def reference_match_sql(fact_id: str, dim_raw_id: str) -> str:
    """True iff the reference's 3-stage fallback (etl/transform.py:202-211)
    would match this (fact, dim) pair:

      stage 1: dim_raw == fact_raw
      stage 2: dim_raw == lstrip0(fact_raw)
      stage 3: zfill4(dim_raw) == fact_raw

    Applied AFTER the normalized equi-join it restores exact reference
    semantics: normalized equality over-matches only on pairs where the
    dim id carries leading zeros and the fact spelling is neither the raw
    nor the zfilled dim spelling (e.g. fact '00201' or '201' vs dim
    '0201') — those must stay unmatched, as the reference leaves them."""
    f, d = fact_id, dim_raw_id
    return f"({f} = {d} OR {strip_zeros_sql(f)} = {d} OR {zfill_sql(d)} = {f})"


def normalize_pool_id(col: str, width: int = 4) -> Column:
    """``normalize_pool_id_sql`` as a Column."""
    return F.expr(normalize_pool_id_sql(col, width))
