"""Engine-portable hash family for the sketch operators.

The production default everywhere is ``xxhash64`` — one JVM intrinsic per
value, the right choice on a 1000-executor cluster. But xxhash64 exists
only inside Spark, so any operator keyed on it (MinHash, SimHash, LSH
plane signs) cannot be restated in another SQL engine for differential
verification. This module provides the *portable* alternative the
correctness gate uses: every primitive here is computable, bit-for-bit,
in both Spark SQL and DuckDB (and any ANSI engine with ``md5``):

    H_lo(s) = first 15 hex chars of md5(s), read as a base-16 integer
            = Spark  ``conv(substr(md5(s),1,15),16,10)::long``
            = DuckDB ``('0x' || substr(md5(s),1,15))::BIGINT``
    H_hi(s) = hex chars 17..31, same construction (an independent 60 bits)

Both are non-negative 60-bit integers, so the downstream affine mixes
(``(a*(h % 2^30) + b) % (2^31-1)``) stay below 2^61 and never overflow a
64-bit signed integer — a hard requirement because DuckDB *errors* on
BIGINT overflow rather than wrapping like the JVM.

Mix constants are derived from md5 on the DRIVER with :mod:`hashlib`
(which matches the engines' md5 byte-for-byte) and embedded as literals,
so the Spark plan and the oracle SQL share the exact same constants with
no cross-engine hashing of the constant-derivation path itself.

Operators take ``hash_family="xxhash64" | "portable"``; only the driver
correctness queries (``__spark_entry__.py``) switch to portable mode.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, functions as F

# Affine-mix modulus pair: h is folded to 30 bits so a*(h%M)+b < 2^61.
MIX_M = 1 << 30          # fold modulus
MIX_P = (1 << 31) - 1    # Mersenne prime 2^31-1

_HEX60 = 15  # 15 hex chars = 60 bits, safely inside a signed 64-bit int


def portable_hash64(col: Column) -> Column:
    """Low 60 bits of md5, as a non-negative long (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, _HEX60), 16, 10).cast("long")


def portable_hash64_hi(col: Column) -> Column:
    """An independent 60 bits from the second half of the same md5."""
    return F.conv(F.substring(F.md5(col), 17, _HEX60), 16, 10).cast("long")


def _const60(tag: str) -> int:
    """Driver-side md5-derived 60-bit constant; identical to what either
    engine would compute for the same tag string."""
    return int(hashlib.md5(tag.encode("ascii")).hexdigest()[:_HEX60], 16)


def minhash_mix_constants(num_hashes: int) -> tuple[list[int], list[int]]:
    """Per-permutation affine constants (a_i, b_i) for the portable
    MinHash family: a_i in [1, P-1], b_i in [0, P-1], both md5-derived
    so Spark literals and oracle-SQL literals agree by construction."""
    a = [1 + _const60(f"mh-a:{i}") % (MIX_P - 1) for i in range(num_hashes)]
    b = [_const60(f"mh-b:{i}") % MIX_P for i in range(num_hashes)]
    return a, b
