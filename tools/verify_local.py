"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB (same parquet views), then compares row count, column-name
sets, and cell values EXACTLY (sorted rows, sorted columns).  Stricter than
a value hash: any mismatch prints the first differing cells.

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def duck_run(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    # bound the oracle's footprint: the Spark driver JVM shares this box,
    # and an unbounded DuckDB join spill-to-RAM at sf1 can push the machine
    # into the kernel OOM killer (observed on the embeddings self-join)
    con.execute("SET memory_limit='16GB'")
    con.execute("SET threads=8")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).df()


def canonical_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _dtype_class(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "other"


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(ddf.columns):
        return [f"columns differ: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}"]
    # Driver-hash semantics: the driver hashes dtype-faithful cells, so an
    # int column on one engine vs float on the other (e.g. a DuckDB
    # HUGEINT window sum landing as float64) is a REAL mismatch even when
    # values coerce equal.  Fail loudly instead of silently coercing.
    for c in sdf.columns:
        sc, dc = _dtype_class(sdf[c]), _dtype_class(ddf[c])
        if {sc, dc} == {"int", "float"}:
            problems.append(
                f"dtype-class mismatch col {c!r}: spark={sdf[c].dtype} "
                f"duck={ddf[c].dtype} (driver hash would fail — cast BOTH sides)"
            )
    if problems:
        return problems
    if len(sdf) != len(ddf):
        problems.append(f"row count: spark={len(sdf)} duck={len(ddf)}")
        return problems
    s, d = canonical_frame(sdf), canonical_frame(ddf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv):
            eq = (sv.values == dv.values) | (np.isnan(sv.values.astype(float)) & np.isnan(dv.values.astype(float)))
        else:
            eq = (sv.values == dv.values) | (sv.isna().values & dv.isna().values)
        if not eq.all():
            i = int(np.argmin(eq))
            problems.append(
                f"col {c!r}: {int((~eq).sum())}/{len(eq)} cells differ; first at row {i}: "
                f"spark={sv.iloc[i]!r} duck={dv.iloc[i]!r}"
            )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as entrymod
    from inferdb_spark.session import get_spark

    spark = get_spark("verify_local")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            failures += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(sdf)}) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = duck_run(oracles[name], sf_dir)
        except Exception:
            print(f"FAIL {name}: duckdb raised\n{traceback.format_exc()}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL {name} ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"   - {p}")
        else:
            print(f"OK   {name} ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
