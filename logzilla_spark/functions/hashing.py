"""Cross-engine deterministic hashing primitives.

Every dedup / fingerprint operator needs a hash that the DuckDB oracle
can recompute bit-for-bit on the same parquet bytes (the reference has
no test suite — SURVEY.md §5 — so differential testing is the
correctness anchor). Spark's ``F.hash``/``F.xxhash64`` and DuckDB's
``hash()`` are different algorithms, so we standardise on:

    md5_long(s) = int(md5(s).hexdigest()[:15], 16)      # 60 bits, >= 0

which both engines compute natively (Spark: conv(substring(md5,1,15),
16,10); DuckDB: CAST('0x'||substring(md5,1,15) AS BIGINT)) — parity is
pinned by tests/test_hashing.py.

On top of it, a universal hash family for MinHash (Broder '97):

    uh_j(h) = (A[j] * (h % P) + B[j]) % P,  P = 2^31 - 1

A/B are derived from md5 in *Python* and inlined as literals into both
engines, so there is exactly one source of truth. All arithmetic stays
within signed-64 range: (P-1)*(P-1) < 2^62.

Scale note: everything here compiles to JVM-side Catalyst expressions
(whole-stage codegen) — no Python UDFs — so the hot dedup path runs
vectorized on executors at 100 TB just like any built-in expression.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def _md5_int(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def minhash_coeffs(n_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (A, B) coefficient lists for the universal family."""
    a = [(_md5_int(f"minhash-a-{j}") % (P31 - 1)) + 1 for j in range(n_hashes)]
    b = [_md5_int(f"minhash-b-{j}") % P31 for j in range(n_hashes)]
    return a, b


def hyperplanes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 random-hyperplane matrix for sign-LSH (Charikar '02).

    Derived from md5 parity in Python; both the Arrow bucket pass and
    the DuckDB oracle SQL's literals use this matrix.
    """
    return [
        [1 if _md5_int(f"hp-{j}-{d}") % 2 == 0 else -1 for d in range(dim)]
        for j in range(n_planes)
    ]


# --------------------------------------------------------------------------
# Spark side
# --------------------------------------------------------------------------


def md5_long(col: Column | str) -> Column:
    """60-bit non-negative integer hash of a string column (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_expr(sql_expr: str) -> str:
    """Spark-SQL expression string form of md5_long (for use inside
    higher-order lambdas, where Column objects can't reach)."""
    return f"cast(conv(substring(md5({sql_expr}), 1, 15), 16, 10) as long)"


# --------------------------------------------------------------------------
# DuckDB oracle side
# --------------------------------------------------------------------------


def md5_long_sql(sql_expr: str) -> str:
    """DuckDB SQL computing the identical value as md5_long()."""
    return f"CAST(('0x' || substring(md5({sql_expr}), 1, 15)) AS BIGINT)"
