"""Deterministic, engine-portable hashing.

The dedup/fingerprint operators need hashes that an independent SQL oracle
(DuckDB) can recompute bit-for-bit.  Spark's `F.hash`/`F.xxhash64` have no
DuckDB twin, so we define every hash from md5 (identical in both engines)
plus pure integer arithmetic:

    h52(s)      = first 13 hex chars of md5(s) parsed base-16 (52 bits, fits
                  a BIGINT with headroom for modular arithmetic)
    perm_i(x)   = (a_i * (x mod P) + b_i) mod P          (universal hashing)

with P a prime < 2^31 so products stay < 2^62 (no BIGINT overflow in either
engine).  `duckdb_*` helpers emit the equivalent DuckDB SQL fragment for the
oracle side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# largest prime < 2^31
MERSENNE_P = 2147483647
# deterministic multipliers/offsets for minhash permutations (seeded LCG,
# generated once; any fixed coprime constants work)
_A0, _B0, _LCG_M = 1103515245, 12345, 2**31 - 1


def perm_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """n (a, b) pairs in [1, P) × [0, P), deterministic in `seed`."""
    params = []
    state = seed
    for _ in range(n):
        state = (_A0 * state + _B0) % _LCG_M
        a = state % (MERSENNE_P - 1) + 1
        state = (_A0 * state + _B0) % _LCG_M
        b = state % MERSENNE_P
        params.append((a, b))
    return params


def h52(col: Column) -> Column:
    """52-bit integer hash of a string column via md5 prefix."""
    return F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")


def spark_h52_sql(expr: str) -> str:
    """Spark SQL fragment computing h52 — the textual twin of :func:`h52`
    for call sites that assemble many hash expressions per query: one
    `F.expr` on the assembled string costs ONE py4j round trip where the
    Column-by-Column form costs five per hash (measured 1.8-3 s of pure
    driver-side construction on the 32-replica bootstrap/permutation
    gates).  Parses to the same CAST(conv(substring(md5(..)..)..) AS
    BIGINT) expression tree, so values are bit-identical."""
    return f"CAST(conv(substring(md5({expr}), 1, 13), 16, 10) AS BIGINT)"


def duckdb_h52(expr: str) -> str:
    """DuckDB SQL computing the same 52-bit md5-prefix hash."""
    return (
        "list_reduce(list_transform(regexp_extract_all(substr(md5("
        + expr
        + "),1,13),'.'), c -> cast(strpos('0123456789abcdef', c) - 1 as bigint)),"
        " (a,b) -> a*16+b)"
    )
