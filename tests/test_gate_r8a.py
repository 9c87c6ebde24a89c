"""Third-implementation checks for the round-8 batch-1 gates
(inferdb_spark/gate_r8a.py): every Spark result is recomputed with a
pure-python reference directly off the parquet, independent of both the
Spark plan and the DuckDB oracle (which tools/verify_local.py compares
separately), so a shared-misconception bug in the gate/oracle pair can't
hide.

Notably, test_cusum verifies the prefix-sum-minus-running-min closed
form against the literal sequential max(0, C + d) recursion, and
test_holt verifies the aggregate-HOF fold against the literal two-state
recurrence.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import duckdb
import pytest


def _tok(text: str) -> list[str]:
    norm = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()
    return norm.split(" ") if norm else []


def test_cronbach_alpha_reference(spark, sf_dir):
    from inferdb_spark.gate_r8a import q_cronbach_alpha

    row = q_cronbach_alpha(spark, sf_dir).collect()[0]
    li = duckdb.sql(
        f"select l_orderkey, l_quantity, l_extendedprice"
        f" from read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    items: dict[int, list[int]] = {}
    for ok, q, ep in li:
        it = items.setdefault(ok, [0, 0, 0])
        it[0] += round(q)
        it[1] += 1
        # python round is half-to-even; the engines round half away from
        # zero — emulate HALF_UP for positive values
        it[2] += int(math.floor(ep / 100.0 + 0.5))
    n = len(items)
    cols = list(zip(*items.values()))
    totals = [a + b + c for a, b, c in items.values()]

    def var(xs):
        s, q2 = sum(xs), sum(x * x for x in xs)
        return (n * q2 - s * s) / (n * n)

    def mom(a, b):
        return n * sum(x * y for x, y in zip(a, b)) - sum(a) * sum(b)

    v1, v2, v3 = (var(c) for c in cols)
    vt = var(totals)
    alpha_raw = 1.5 * (1.0 - (v1 + v2 + v3) / vt)
    rs = [
        mom(cols[i], cols[j]) / math.sqrt(mom(cols[i], cols[i]) * mom(cols[j], cols[j]))
        for i, j in ((0, 1), (0, 2), (1, 2))
    ]
    rbar = sum(rs) / 3.0
    alpha_std = 3.0 * rbar / (1.0 + 2.0 * rbar)
    assert row["n"] == n
    assert row["s1"] == sum(cols[0]) and row["st"] == sum(totals)
    assert row["var1_6"] == pytest.approx(v1, abs=1e-5)
    assert row["var_tot6"] == pytest.approx(vt, abs=1e-5)
    assert row["alpha_raw6"] == pytest.approx(alpha_raw, abs=1e-5)
    for got, want in zip((row["r12_6"], row["r13_6"], row["r23_6"]), rs):
        assert got == pytest.approx(want, abs=1e-5)
    assert row["alpha_std6"] == pytest.approx(alpha_std, abs=1e-5)
    # the items co-measure order size: standardized alpha is high, and
    # the raw-vs-standardized GAP (incommensurate scales) is the story
    assert 0.8 < row["alpha_std6"] <= 1.0
    assert row["alpha_raw6"] < 0.5


def test_kendall_w_reference(spark, sf_dir):
    from inferdb_spark.gate_r8a import q_kendall_w_concordance

    out = {r["nationkey"]: r for r in q_kendall_w_concordance(spark, sf_dir).collect()}
    cust = duckdb.sql(
        f"select c_nationkey, c_acctbal"
        f" from read_parquet('{sf_dir}/customer.parquet')"
    ).fetchall()
    agg: dict[int, list] = {}
    for nk, bal in cust:
        c = round(bal * 100)
        a = agg.setdefault(nk, [0, 0, None])
        a[0] += c
        a[1] += 1
        a[2] = c if a[2] is None else max(a[2], c)
    keys = sorted(agg)
    n = len(keys)

    def ranks(metric_idx):
        order = sorted(keys, key=lambda k: (agg[k][metric_idx], k))
        return {k: i + 1 for i, k in enumerate(order)}

    r1, r2, r3 = ranks(0), ranks(1), ranks(2)
    d2 = sum(
        (2 * (r1[k] + r2[k] + r3[k]) - 3 * (n + 1)) ** 2 for k in keys
    )
    w = d2 / (3.0 * (n**3 - n))
    for k in keys:
        assert (out[k]["r1"], out[k]["r2"], out[k]["r3"]) == (r1[k], r2[k], r3[k])
        assert out[k]["kendall_w"] == pytest.approx(w, abs=1e-6)
    assert 0.0 <= w <= 1.0


def test_rouge_reference(spark, sf_dir):
    from inferdb_spark.gate_r8a import q_rouge_n_halves

    out = {r["doc_id"]: r for r in q_rouge_n_halves(spark, sf_dir).collect()}
    docs = duckdb.sql(
        f"select doc_id, text from read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    assert len(out) == len(docs)
    for doc_id, text in docs:
        t = _tok(text)
        cand, ref = t[: len(t) // 2], t[len(t) // 2 :]
        row = out[doc_id]
        for n, (ovc, cc, rc, fcol) in {
            1: ("ov1", "cand1", "ref1", "rouge1_f"),
            2: ("ov2", "cand2", "ref2", "rouge2_f"),
        }.items():
            cg = Counter(
                " ".join(cand[i : i + n]) for i in range(len(cand) - n + 1)
            )
            rg = Counter(
                " ".join(ref[i : i + n]) for i in range(len(ref) - n + 1)
            )
            ov = sum(min(c, rg.get(g, 0)) for g, c in cg.items())
            assert row[ovc] == ov
            assert row[cc] == sum(cg.values())
            assert row[rc] == sum(rg.values())
            denom = sum(cg.values()) + sum(rg.values())
            f = 0.0 if denom == 0 else 2.0 * ov / denom
            assert row[fcol] == pytest.approx(f, abs=1e-6)


def test_hosmer_lemeshow_reference(spark, sf_dir):
    from inferdb_spark.gate_r8a import _HL_B0, _HL_BD, _HL_BQ, q_hosmer_lemeshow_fixedbins

    rows = {r["bin"]: r for r in q_hosmer_lemeshow_fixedbins(spark, sf_dir).collect()}
    li = duckdb.sql(
        f"select l_quantity, l_discount, l_returnflag"
        f" from read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchall()
    bins: dict[int, list[int]] = {}
    for q, d, rf in li:
        p = 1.0 / (1.0 + math.exp(-((_HL_B0 + (_HL_BQ * q)) + (_HL_BD * d))))
        p_u = math.floor(p * 1_000_000.0 + 0.5)
        b = min(p_u // 100_000, 9)
        acc = bins.setdefault(b, [0, 0, 0])
        acc[0] += 1
        acc[1] += 1 if rf == "R" else 0
        acc[2] += p_u
    chi2_u = 0
    for b, (n_b, o1, e1_u) in bins.items():
        if e1_u in (0, n_b * 1_000_000):
            term = 0
        else:
            term = round(
                (n_b * float((o1 * 1_000_000 - e1_u)) ** 2)
                / (e1_u * float(n_b * 1_000_000 - e1_u))
                * 1_000_000.0
            )
        chi2_u += term
        row = rows[b]
        assert (row["n_b"], row["o1"]) == (n_b, o1)
        assert row["e1_6"] == pytest.approx(e1_u / 1e6, abs=2e-6)
        assert row["term6"] == pytest.approx(term / 1e6, abs=2e-6)
    assert set(rows) == set(bins)
    hl = chi2_u / 1e6
    for row in rows.values():
        assert row["hl_chi2"] == pytest.approx(hl, abs=1e-4)
        assert row["df"] == len(bins) - 2
    # a deliberately miscalibrated scorer must fail the test decisively
    assert hl > 100.0


def test_cusum_matches_sequential_recursion(spark, sf_dir):
    from inferdb_spark.gate_r8a import q_cusum_control_chart

    out = [r.asDict() for r in q_cusum_control_chart(spark, sf_dir).collect()]
    weekly = duckdb.sql(
        f"""select cast(datediff('day', date '1970-01-01', o_orderdate) // 7
                        as bigint) wk,
                   cast(sum(cast(round(o_totalprice) as bigint)) as bigint) x
            from read_parquet('{sf_dir}/orders.parquet')
            group by 1 order by 1"""
    ).fetchall()
    S = sum(x for _, x in weekly)
    W = len(weekly)
    c_hi = c_lo = 0
    expect = []
    for wk, x in weekly:
        c_hi = max(0, c_hi + (20 * W * x - 21 * S))
        c_lo = max(0, c_lo + (19 * S - 20 * W * x))
        expect.append((wk, x, c_hi, c_lo, c_hi > 10 * S, c_lo > 10 * S))
    assert len(out) == W
    for row, (wk, x, eh, el, fh, fl) in zip(out, expect):
        assert row["wk"] == wk and row["dollars"] == x
        assert row["c_hi"] == eh, f"wk {wk}: closed form diverged from recursion"
        assert row["c_lo"] == el
        assert (row["flag_hi"], row["flag_lo"]) == (int(fh), int(fl))
        assert row["cusum_hi6"] == pytest.approx(eh / (20.0 * W), abs=1e-5)
    # the monitor must actually fire somewhere on 7 years of seasonal data
    assert any(r["flag_hi"] or r["flag_lo"] for r in out)


def test_holt_matches_sequential_recursion(spark, sf_dir):
    from inferdb_spark.gate_r8a import _HOLT_H, q_holt_linear_forecast

    out = {r["h"]: r for r in q_holt_linear_forecast(spark, sf_dir).collect()}
    monthly = duckdb.sql(
        f"""select cast(year(o_orderdate) * 100 + month(o_orderdate) as bigint) m,
                   cast(round(cast(sum(cast(round(o_totalprice) as bigint))
                                   as double) / 1000.0) as bigint) s
            from read_parquet('{sf_dir}/orders.parquet')
            group by 1 order by 1"""
    ).fetchall()
    xs = [float(s) for _, s in monthly]
    level, trend = xs[0], xs[1] - xs[0]
    for x in xs[1:]:
        l_new = 0.5 * x + 0.5 * (level + trend)
        trend = 0.5 * (l_new - level) + 0.5 * trend
        level = l_new
    assert set(out) == set(range(1, _HOLT_H + 1))
    for h in range(1, _HOLT_H + 1):
        row = out[h]
        assert row["n_months"] == len(xs)
        assert row["level6"] == pytest.approx(level, abs=1e-5)
        assert row["trend6"] == pytest.approx(trend, abs=1e-5)
        assert row["forecast6"] == pytest.approx(level + h * trend, abs=1e-5)
    # forecasts move linearly in h: second differences are exactly zero
    f = [out[h]["forecast6"] for h in range(1, _HOLT_H + 1)]
    for a, b, c in zip(f, f[1:], f[2:]):
        assert (c - b) - (b - a) == pytest.approx(0.0, abs=1e-4)
