#!/usr/bin/env python3
"""Deterministically scale the driver's sf0.1 tables up to larger SFs.

The driver ships read-only parquet at /root/testdata/sf{0.001,0.01,0.1};
the scale-ramp validation (BASELINE.md "sf1" section) needs a 10x dataset.
We must not write to /root/testdata, so this writes under the repo
(default `.data/sf1` in this checkout, git-ignored).

Method: key-shifted replication, the standard way to scale a star schema
without breaking referential integrity:

- dimensions `region`/`nation` are copied once (TPC-H keeps them fixed
  across SF too);
- every other table is replicated FACTOR times; copy i shifts every
  entity key (custkey, suppkey, partkey, orderkey, event_id, user_id,
  doc_id, vec_id) by i*SHIFT, applied consistently on both the primary
  side and every foreign-key side, so join fan-outs per key are IDENTICAL
  to sf0.1 (cardinality grows, per-key selectivity doesn't);
- free-text and embedding payloads are deterministically perturbed per
  copy (suffix tag / +i*1e-3) so dedup- and ANN-family operators see 10x
  corpus growth rather than 10 bit-identical clones of every row (which
  would quadratically inflate candidate-pair counts in ways no real
  corpus does);  n_chars is recomputed to stay consistent with text.

Everything is pure SQL over DuckDB — bit-deterministic, no RNG.
"""

from __future__ import annotations

import argparse
import os

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SHIFT = 10_000_000  # > any base key at sf0.1 (max is o_orderkey=150000)


def scale_table(con, src_dir: str, out_dir: str, table: str, factor: int) -> None:
    src = f"{src_dir}/{table}.parquet"
    dst = f"{out_dir}/{table}.parquet"
    copies = f"(SELECT unnest(range({factor})) AS copy_i) copies"
    if table in ("region", "nation"):
        sql = f"SELECT * FROM '{src}'"
    elif table == "customer":
        sql = f"""
            SELECT c_custkey + copy_i*{SHIFT} AS c_custkey, c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM '{src}', {copies}"""
    elif table == "supplier":
        sql = f"""
            SELECT s_suppkey + copy_i*{SHIFT} AS s_suppkey, s_name,
                   s_nationkey, s_acctbal
            FROM '{src}', {copies}"""
    elif table == "part":
        sql = f"""
            SELECT p_partkey + copy_i*{SHIFT} AS p_partkey, p_name, p_brand,
                   p_type, p_size, p_retailprice
            FROM '{src}', {copies}"""
    elif table == "orders":
        sql = f"""
            SELECT o_orderkey + copy_i*{SHIFT} AS o_orderkey,
                   o_custkey + copy_i*{SHIFT} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM '{src}', {copies}"""
    elif table == "lineitem":
        sql = f"""
            SELECT l_orderkey + copy_i*{SHIFT} AS l_orderkey,
                   l_partkey + copy_i*{SHIFT} AS l_partkey,
                   l_suppkey + copy_i*{SHIFT} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM '{src}', {copies}"""
    elif table == "events":
        sql = f"""
            SELECT event_id + copy_i*{SHIFT} AS event_id, ts,
                   user_id + copy_i*{SHIFT} AS user_id,
                   event_type, value, props
            FROM '{src}', {copies}"""
    elif table == "documents":
        # copy 0 keeps the original text byte-for-byte (so intra-copy dup
        # structure is preserved); copies >0 get a short deterministic tag.
        sql = f"""
            SELECT doc_id + copy_i*{SHIFT} AS doc_id,
                   CASE WHEN copy_i = 0 THEN text
                        ELSE text || ' rev' || copy_i END AS text,
                   lang, source,
                   CAST(length(CASE WHEN copy_i = 0 THEN text
                        ELSE text || ' rev' || copy_i END) AS BIGINT)
                       AS n_chars
            FROM '{src}', {copies}"""
    elif table == "embeddings":
        # rotate the vector by copy_i positions: preserves the base copy's
        # internal near-dup structure (so near-dup/ANN outputs scale
        # LINEARLY with factor) while cross-copy cosines stay ~random.
        # A "+eps*copy_i" perturbation instead would give every vector
        # 9 near-identical twins (cosine ~ 1.0) — a pathological all-pairs
        # density no real corpus has, which OOM'd the bucket self-join.
        sql = f"""
            SELECT vec_id + copy_i*{SHIFT} AS vec_id,
                   CAST(CASE WHEN copy_i = 0 THEN embedding ELSE
                        list_concat(
                            embedding[copy_i + 1 :],
                            embedding[1 : copy_i]
                        ) END AS FLOAT[]) AS embedding,
                   label
            FROM '{src}', {copies}"""
    else:
        raise ValueError(table)
    con.execute(
        f"COPY ({sql}) TO '{dst}' (FORMAT PARQUET, COMPRESSION ZSTD)"
    )
    n = con.sql(f"SELECT count(*) FROM '{dst}'").fetchone()[0]
    print(f"{table:12s} -> {n:>10,} rows  ({dst})")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(REPO, ".data", "sf1"))
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        scale_table(con, args.src, args.out, t, args.factor)
    print("done:", args.out)


if __name__ == "__main__":
    main()
