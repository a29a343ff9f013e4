"""Deterministic, engine-portable hashing.

MinHash/SimHash/fingerprinting need a hash function that (a) is stable
across runs and partitionings, and (b) can be replicated EXACTLY in the
ANSI-SQL oracle (DuckDB) so correctness is hash-checkable. Spark's native
``hash``/``xxhash64`` use murmur variants DuckDB doesn't expose, so we build
a 60-bit integer hash from ``md5`` -- both engines produce identical md5 hex
strings, and 15 hex chars (60 bits) fit a signed BIGINT in both.

Spark:  ``conv(substr(md5(s), 1, 15), 16, 10) :: bigint``
DuckDB: ``('0x' || substr(md5(s), 1, 15)) :: bigint``

For MinHash permutations we use universal hashing
``(a * (h mod p) + b) mod p`` with ``p = 2^31 - 1``; every intermediate
product stays < 2^62, so it neither overflows DuckDB's checked BIGINT
arithmetic nor wraps differently in Spark.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31 - 1; modulus of the universal-hash family.
HASH_PRIME = 2_147_483_647


def h60(col: Column) -> Column:
    """60-bit md5-derived hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def h60_sql(expr: str) -> str:
    """Same hash as :func:`h60`, as DuckDB SQL over ``expr``."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def h60_spark_sql(expr: str) -> str:
    """Same hash as :func:`h60`, as a Spark-SQL string fragment (for the
    SQL-string plan builds). Previously hand-spelled in three modules --
    a fourth place for the engines to silently fork (r8 review)."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def mod_hash_sql(h_expr: str, a: int, b: int) -> str:
    """Universal-hash permutation (DuckDB SQL side)."""
    return f"(({a} * (({h_expr}) % {HASH_PRIME}) + {b}) % {HASH_PRIME})"


def perm_params(k: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) parameters for k permutations, identical on both
    sides (simple LCG; no randomness at query time)."""
    params = []
    state = seed
    for _ in range(k):
        state = (state * 1_103_515_245 + 12_345) % (1 << 31)
        a = 1 + state % (HASH_PRIME - 1)
        state = (state * 1_103_515_245 + 12_345) % (1 << 31)
        b = state % HASH_PRIME
        params.append((a, b))
    return params
