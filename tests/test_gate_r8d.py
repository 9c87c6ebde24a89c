"""Third-implementation check for the round-8 batch-4 gate
(inferdb_spark/gate_r8d.py): a sklearn-free MI + greedy replay for
mRMR, independent of the Spark plan and DuckDB oracle.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pytest


def test_mrmr_matches_sklearn_free_replay(spark, sf_dir):
    from inferdb_spark.gate_r8d import _MRMR_K, q_mrmr_feature_select

    out = [r.asDict() for r in q_mrmr_feature_select(spark, sf_dir).collect()]
    li = duckdb.sql(
        f"""select cast(round(l_discount * 100) as bigint) d,
                   cast(month(l_shipdate) as bigint) m,
                   least(9, cast(floor(l_extendedprice / 11000.0) as bigint)) p,
                   cast(floor(cast(round(l_quantity) as bigint) / 10.0) as bigint) q,
                   cast(round(l_tax * 100) as bigint) t,
                   cast(case when l_returnflag = 'R' then 1 else 0 end
                        as bigint) y
            from '{sf_dir}/lineitem.parquet'"""
    ).fetchall()
    names = ["d", "m", "p", "q", "t"]
    cols = {nm: [r[i] for r in li] for i, nm in enumerate(names)}
    cols["y"] = [r[5] for r in li]
    n = len(li)

    def mi_u(a, b):
        joint = Counter(zip(cols[a], cols[b]))
        ma = Counter(cols[a])
        mb = Counter(cols[b])
        s = 0
        for (av, bv), nab in joint.items():
            s += round(nab * math.log((nab * n) / (ma[av] * mb[bv])) * 1e9)
        return s

    rel = {f: mi_u(f, "y") for f in names}
    red = {}
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            red[(a, b)] = mi_u(a, b)
    selected = []
    for step in range(1, _MRMR_K + 1):
        best = None
        for f in names:
            if f in selected:
                continue
            rs = sum(red[(min(f, s), max(f, s))] for s in selected)
            score = rel[f] * max(1, len(selected)) - rs
            key = (-score, f)
            if best is None or key < best[0]:
                best = (key, f, rel[f], rs)
        selected.append(best[1])
        row = out[step - 1]
        assert row["step"] == step
        assert row["feature"] == best[1], f"step {step}"
        assert row["relevance6"] == pytest.approx(best[2] / (n * 1e9), abs=2e-6)
        if step == 1:
            assert row["red_mean6"] == 0.0
            assert row["score6"] == row["relevance6"]
        else:
            assert row["red_mean6"] == pytest.approx(
                best[3] / ((step - 1) * n * 1e9), abs=2e-6
            )
            assert row["score6"] == pytest.approx(
                (best[2] - best[3] / (step - 1)) / (n * 1e9), abs=2e-6
            )
    # mRMR must not pick three copies of the same information: the
    # selected set is distinct and scores are finite
    assert len(set(selected)) == _MRMR_K
