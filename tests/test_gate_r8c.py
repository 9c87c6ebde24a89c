"""Third-implementation checks for the round-8 batch-3 gates
(inferdb_spark/gate_r8c.py): pure-python soundex/geohash/HITS
recomputations off the parquet, independent of Spark plans and DuckDB
oracles.
"""

from __future__ import annotations

import re
from collections import defaultdict

import duckdb
import pytest

_CODES = dict(zip("abcdefghijklmnopqrstuvwxyz", "01230120022455012623010202"))


def _py_soundex(w: str) -> str:
    digits = "".join(_CODES[c] for c in w[1:])
    for d in "123456":
        digits = re.sub(f"{d}{d}+", d, digits)
    digits = digits.replace("0", "")
    return w[0].upper() + (digits[:3] + "000")[:3]


def test_soundex_blocks_reference(spark, sf_dir):
    from inferdb_spark.gate_r8c import q_soundex_blocking_join

    out = {r["code"]: r for r in q_soundex_blocking_join(spark, sf_dir).collect()}
    names = duckdb.sql(
        f"select distinct replace(lower(p_name), ' ', '')"
        f" from '{sf_dir}/part.parquet'"
    ).fetchall()
    vocab = {w for (w,) in names if w}
    blocks = defaultdict(list)
    for w in vocab:
        blocks[_py_soundex(w)].append(w)
    assert set(out) == set(blocks)
    for code, ws in blocks.items():
        row = out[code]
        assert row["n_tokens"] == len(ws)
        assert row["n_pairs"] == len(ws) * (len(ws) - 1) // 2
        assert row["first_token"] == min(ws)
    # blocking must actually block: at least one code holds >= 2 tokens
    assert any(len(ws) >= 2 for ws in blocks.values())


def _py_geohash(lat: float, lon: float, precision: int = 5) -> str:
    """standard interval-halving geohash encoder (independent of the
    gate's integer bit-interleave formulation)."""
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits = []
    even = True
    while len(bits) < precision * 5:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits.append(1)
                lon_lo = mid
            else:
                bits.append(0)
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits.append(1)
                lat_lo = mid
            else:
                bits.append(0)
                lat_hi = mid
        even = not even
    out = ""
    for k in range(precision):
        idx = 0
        for b in bits[5 * k : 5 * k + 5]:
            idx = idx * 2 + b
        out += alphabet[idx]
    return out


def test_geohash_cells_reference(spark, sf_dir):
    from inferdb_spark.gate_r8c import q_geohash_cell_agg

    out = {r["gh5"]: r for r in q_geohash_cell_agg(spark, sf_dir).collect()}
    cust = duckdb.sql(
        f"select c_custkey, c_acctbal from '{sf_dir}/customer.parquet'"
    ).fetchall()
    cells = defaultdict(lambda: [0, 0])
    for ck, bal in cust:
        lat = -30.0 + (ck % 120) * 0.5
        lon = -100.0 + ((ck * 7) % 360) * 0.5
        gh = _py_geohash(lat, lon)
        cells[gh][0] += 1
        cells[gh][1] += round(bal * 100)
    assert set(out) == set(cells)
    for gh, (n, bal_c) in cells.items():
        assert out[gh]["n_customers"] == n
        assert out[gh]["bal_c"] == bal_c
        assert out[gh]["gh3"] == gh[:3]


def test_hits_hub_side_reference(spark, sf_dir):
    from inferdb_spark.gate_r8c import q_hits_hub_side

    rows = q_hits_hub_side(spark, sf_dir).collect()
    assert rows and rows[0]["score"] == 1_000_000
    assert all(r["role"] == "hub" for r in rows)
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # exact integer replay of the fixed-round iteration off the parquet
    edges = duckdb.sql(
        f"""select distinct cast(l_suppkey as bigint) s,
                            cast(l_partkey as bigint) p
            from '{sf_dir}/lineitem.parquet' where l_partkey % 5 = 0"""
    ).fetchall()
    h = {s: 1_000_000 for s, _ in edges}
    for _ in range(3):
        a = defaultdict(int)
        for s, p in edges:
            a[p] += h[s]
        am = max(a.values())
        a = {p: v * 1_000_000 // am for p, v in a.items()}
        h = defaultdict(int)
        for s, p in edges:
            h[s] += a[p]
        hm = max(h.values())
        h = {s: v * 1_000_000 // hm for s, v in h.items()}
    top = sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))[: len(rows)]
    assert [(r["node"], r["score"]) for r in rows] == top


def test_soundex_sql_agrees_on_double_run_names(spark):
    """regression for the flag-less regexp_replace bug: DuckDB replaces
    only the FIRST occurrence by default, so names with two runs of the
    same digit class ('bisquesky' -> B220, 'deeppuff' -> D110) diverged
    between the engines until the builder took a per-engine 'g' flag."""
    from inferdb_spark.gate_r8c import _soundex_sql

    names = ["bisquesky", "deeppuff", "coldbolt", "mississippi"]
    spark_rows = spark.createDataFrame(
        [(w,) for w in names], "w STRING"
    ).selectExpr("w", f"{_soundex_sql('w', '')} AS code").collect()
    got_spark = {r["w"]: r["code"] for r in spark_rows}
    con = duckdb.connect()
    got_duck = {}
    for w in names:
        sql = "SELECT " + _soundex_sql(f"'{w}'", ", 'g'") + " AS code"
        got_duck[w] = con.execute(sql).fetchone()[0]
    assert got_spark == got_duck
    assert got_spark["bisquesky"] == "B220"  # both '2' runs collapse
    assert got_spark["deeppuff"] == "D110"
    for w in names:
        assert got_spark[w] == _py_soundex(w)
