"""Portable hashing primitives used by dedup / fingerprinting operators.

Cross-engine requirement: the DuckDB oracles must compute bit-identical
hashes, so everything derives from md5 (identical in Spark, DuckDB,
Python) rather than engine-native hash functions (Spark xxhash64 and
DuckDB hash() disagree).

``portable_hash32`` = first 8 hex chars of md5 as an unsigned 32-bit
integer. MinHash permutations are the classic (a*h + b) mod P universal
family with P the smallest prime > 2^32; a/b are fixed odd constants so
signatures are deterministic across engines and runs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# smallest prime > 2^32
MINHASH_P = 4_294_967_311


def minhash_coeffs(n: int) -> tuple[list[int], list[int]]:
    """(a, b) coefficient lists for ``n`` universal-hash permutations —
    the SAME formulas that generate the 16 production constants below
    (MINHASH_A/B are exactly ``minhash_coeffs(NUM_MINHASHES)``), so a
    recall-tuned caller asking for more permutations gets a superset
    family both engines reproduce from the formula alone."""
    return (
        [2 * i + 1 for i in range(1, n + 1)],
        [10_007 * i + 12_345 for i in range(n)],
    )

# deterministic permutation parameters (i-th hash: (A[i]*h + B[i]) % P)
NUM_MINHASHES = 16
MINHASH_A, MINHASH_B = minhash_coeffs(NUM_MINHASHES)


def portable_hash32(col: Column) -> Column:
    """md5-derived unsigned 32-bit hash, identical across engines."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def portable_hash48(col: Column) -> Column:
    """48-bit variant (for SimHash bit sampling)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def portable_hash52(col: Column) -> Column:
    """52-bit variant (13 md5 hex chars) — the widest md5 prefix whose
    values stay EXACT in an IEEE double (52 <= 53 mantissa bits), so the
    KMV estimate's float division is bit-identical across engines."""
    return F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")


def minhash_perm(h: Column, i: int, num_hashes: int = NUM_MINHASHES) -> Column:
    a, b = (MINHASH_A, MINHASH_B) if num_hashes == NUM_MINHASHES else minhash_coeffs(num_hashes)
    return (F.lit(a[i]) * h + F.lit(b[i])) % F.lit(MINHASH_P)


def split_bucket_hex(id_col: Column | str, seed: str) -> Column:
    """First md5 BYTE (two lowercase hex chars) of a seed-prefixed id —
    the content-addressed 256-bucket coin behind the train/val/test
    split. Hex strings compare identically in Spark and DuckDB (hex
    digits are ASCII-ordered), so threshold cuts like ``hh < 'e6'`` are
    engine-exact with zero numeric conversion.

    THE single definition of the split bucket: ``plans/training.py::
    split_documents_hash`` (the shipped split) and ``operators/
    curation.py::split_leakage_audit`` (the audit of that split) both
    derive from it, so a scheme change (e.g. 3-hex buckets) moves both
    together instead of silently desynchronizing the audit from the
    split it grades (ADVICE r11)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(F.md5(F.concat(F.lit(seed), c.cast("string"))), 1, 2)


def validate_split_threshold(train_hi: str) -> str:
    """Validate a 2-hex-digit split threshold: the ``hh < train_hi``
    comparison is LEXICOGRAPHIC on the md5 hex string, which is only
    numerically correct for a lowercase, exactly-2-hex-digit bound
    ('E6' or 'e60' would silently misclassify — ADVICE r11)."""
    if (
        len(train_hi) != 2
        or train_hi.lower() != train_hi
        or any(ch not in "0123456789abcdef" for ch in train_hi)
    ):
        raise ValueError(
            f"train_hi {train_hi!r} must be exactly two lowercase hex "
            "digits: the split compares md5 hex strings lexicographically"
        )
    return train_hi
