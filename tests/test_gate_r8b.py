"""Third-implementation checks for the round-8 batch-2 gates
(inferdb_spark/gate_r8b.py) — pure-python references off the parquet,
independent of both the Spark plans and the DuckDB oracles.

test_prefixspan verifies the min/max-position reduction against a
LITERAL per-user subsequence scan, and test_theil_sen the rank
selection against a literal sort of all pairwise slopes.
"""

from __future__ import annotations

import math
from collections import defaultdict

import duckdb
import pytest


def test_cvm_energy_reference(spark, sf_dir):
    from inferdb_spark.gate_r8b import _CVM_BINW, q_cvm_energy_two_sample

    rows = {r["bin"]: r for r in q_cvm_energy_two_sample(spark, sf_dir).collect()}
    orders = duckdb.sql(
        f"select o_totalprice, o_orderdate from '{sf_dir}/orders.parquet'"
    ).fetchall()
    import datetime

    split = datetime.datetime(1996, 1, 1)
    binned = defaultdict(lambda: [0, 0])
    for price, d in orders:
        b = min(99, int(math.floor(price / 5000.0)))
        binned[b][0 if d < split else 1] += 1
    n = sum(v[0] for v in binned.values())
    m = sum(v[1] for v in binned.values())
    bins = sorted(binned)
    cum_r = cum_c = 0
    cvm_u = energy_u = 0
    for i, b in enumerate(bins):
        cnt_r, cnt_c = binned[b]
        cum_r += cnt_r
        cum_c += cnt_c
        gap = (bins[i + 1] - b) if i + 1 < len(bins) else 1
        d2 = cum_r * m - cum_c * n
        w = cnt_r + cnt_c
        cvm_u += round(
            ((w * (float(d2) * float(d2))) / (((float(n) * float(m)) * float(n + m)) * float(n + m)))
            * 1e9
        )
        energy_u += round(
            (2.0 * (gap * _CVM_BINW))
            * ((float(d2) / (float(n) * float(m))) * (float(d2) / (float(n) * float(m))))
            * 1e9
        )
        row = rows[b]
        assert (row["cnt_r"], row["cnt_c"]) == (cnt_r, cnt_c)
        assert (row["cum_r"], row["cum_c"], row["gap"]) == (cum_r, cum_c, gap)
    assert set(rows) == set(bins)
    for row in rows.values():
        assert row["n_ref"] == n and row["n_cur"] == m
        assert row["cvm_t6"] == pytest.approx(cvm_u / 1e9, abs=1e-4)
        assert row["energy6"] == pytest.approx(energy_u / 1e9, abs=1e-4)
        assert row["cvm_t6"] >= 0.0 and row["energy6"] >= 0.0


def test_rdd_reference(spark, sf_dir):
    import numpy as np

    from inferdb_spark.gate_r8b import _RDD_BW, _RDD_CUT, q_rdd_local_linear

    row = q_rdd_local_linear(spark, sf_dir).collect()[0]
    y = duckdb.sql(
        f"""select cast(round(c.c_acctbal * 100) as bigint) - {_RDD_CUT} u,
                   cast(coalesce(sum(cast(round(o.o_totalprice) as bigint)), 0)
                        as bigint) yd
            from '{sf_dir}/customer.parquet' c
            left join '{sf_dir}/orders.parquet' o on c.c_custkey = o.o_custkey
            group by c.c_custkey, c.c_acctbal"""
    ).fetchall()
    left = [(u, v) for u, v in y if -_RDD_BW <= u < 0]
    right = [(u, v) for u, v in y if 0 <= u <= _RDD_BW]
    assert row["n_l"] == len(left) and row["n_r"] == len(right)

    def fit(pts):
        xs = np.array([p[0] for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        slope, intercept = np.polyfit(xs, ys, 1)
        return intercept, slope

    a_l, b_l = fit(left)
    a_r, b_r = fit(right)
    assert row["a_left6"] == pytest.approx(a_l, rel=1e-6, abs=1e-3)
    assert row["a_right6"] == pytest.approx(a_r, rel=1e-6, abs=1e-3)
    assert row["slope_left6"] == pytest.approx(b_l, rel=1e-6, abs=1e-5)
    assert row["slope_right6"] == pytest.approx(b_r, rel=1e-6, abs=1e-5)
    assert row["tau6"] == pytest.approx(a_r - a_l, rel=1e-6, abs=1e-3)
    # placebo cutoff: the discontinuity must be small relative to the
    # outcome level at the boundary
    assert abs(row["tau6"]) < 0.5 * max(abs(a_l), abs(a_r))


def test_theil_sen_matches_literal_sort(spark, sf_dir):
    from inferdb_spark.gate_r8b import q_theil_sen_weekly_pairs

    row = q_theil_sen_weekly_pairs(spark, sf_dir).collect()[0]
    weekly = duckdb.sql(
        f"""select cast(datediff('day', date '1970-01-01', o_orderdate) // 7
                        as bigint) wk,
                   cast(sum(cast(round(o_totalprice) as bigint)) as bigint) yd
            from '{sf_dir}/orders.parquet' group by 1 order by 1"""
    ).fetchall()
    pairs = []
    for i, (w1, y1) in enumerate(weekly):
        for w2, y2 in weekly[i + 1 :]:
            pairs.append((float(y2 - y1) / float(w2 - w1), w1, w2))
    pairs.sort()
    assert row["n_weeks"] == len(weekly)
    assert row["n_pairs"] == len(pairs)
    slope = round(pairs[(len(pairs) + 1) // 2 - 1][0], 6)
    assert row["slope_med6"] == pytest.approx(slope, abs=1e-9)
    resid = sorted(
        (round(float(yd) - slope * float(wk), 6), wk) for wk, yd in weekly
    )
    assert row["intercept_med6"] == pytest.approx(
        resid[(len(resid) + 1) // 2 - 1][0], abs=1e-9
    )


def test_prefixspan_matches_literal_subsequence_scan(spark, sf_dir):
    from inferdb_spark.gate_r8b import q_prefixspan_bigrams

    out = {
        (r["antecedent"], r["consequent"]): r
        for r in q_prefixspan_bigrams(spark, sf_dir).collect()
    }
    ev = duckdb.sql(
        f"""select user_id, event_type,
                   cast(epoch_us(ts) // 1000000 as bigint) * 4294967296
                     + event_id as p
            from '{sf_dir}/events.parquet'"""
    ).fetchall()
    seqs: dict[int, list] = defaultdict(list)
    for uid, et, p in ev:
        seqs[uid].append((p, et))
    types = sorted({et for _, et, _ in ev})
    support = defaultdict(int)
    for uid, items in seqs.items():
        items.sort()
        for a in types:
            for b in types:
                if a == b:
                    continue
                # literal subsequence check: an a strictly before a b
                seen_a = False
                for _, et in items:
                    if et == a:
                        seen_a = True
                    elif et == b and seen_a:
                        support[(a, b)] += 1
                        break
    n_users = len(seqs)
    assert set(out) == {k for k in support}
    for k, s in support.items():
        assert out[k]["support"] == s, k
        assert out[k]["n_users"] == n_users
        assert out[k]["support_frac6"] == pytest.approx(s / n_users, abs=1e-6)
