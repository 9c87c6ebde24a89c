"""Python UDTFs: the Arrow-batched escape hatch on the SQL surface.

F3's set-returning SQL functions (`RETURNS SETOF record`,
src/transpiler.py:653-666) map to Python UDTFs (SURVEY §2.10).  This is
the SLOW path — everything in the engine's hot loops stays as Column
expressions — but it is the contract for user extensions Spark can't
express relationally.  UDTF row expansion is lazy per input row, no
state.  Per-key as-of lookups use the window-based
relational_ext.asof_join, which has no per-key memory bound.
"""

from __future__ import annotations


def make_prefix_udtf():
    """Python UDTF expanding a dot-separated index key into its prefixes
    — the engine's set-returning-function (F3) demo: SELECT ... FROM
    tbl, LATERAL key_prefixes(key).  One output row per prefix length,
    shortest first; NULL/empty input yields no rows."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="prefix_len int, prefix string")
    class KeyPrefixes:
        def eval(self, key: str):
            if not key:
                return
            parts = key.split(".")
            for i in range(1, len(parts) + 1):
                yield i, ".".join(parts[:i])

    return KeyPrefixes


def register_udtfs(spark) -> None:
    """Install the engine's UDTFs on the SQL surface."""
    spark.udtf.register("key_prefixes", make_prefix_udtf())
