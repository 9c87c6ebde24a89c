"""Third-implementation checks for the round-10 batches b/c/d
(inferdb_spark/gate_r10{b,c,d}.py): pure-python recomputation from the
raw parquet, independent of both the Spark plans and the DuckDB oracles.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pytest


def _weekly(sf_dir):
    rows = duckdb.sql(
        f"""select cast(datediff('day', DATE '1970-01-01', o_orderdate) // 7
                   as bigint) wk,
                   cast(round(cast(sum(cast(round(o_totalprice) as bigint))
                        as double) / 1000.0) as bigint) y
            from '{sf_dir}/orders.parquet' group by 1 order by 1"""
    ).fetchall()
    return [y for _, y in rows]


# ---------------------------------------------------------------------------
# r10c: time series
# ---------------------------------------------------------------------------


def test_dickey_fuller_reference(spark, sf_dir):
    from inferdb_spark.gate_r10c import q_dickey_fuller_unitroot

    row = q_dickey_fuller_unitroot(spark, sf_dir).collect()[0]
    ys = _weekly(sf_dir)
    xs, ds = ys[:-1], [b - a for a, b in zip(ys, ys[1:])]
    n = len(xs)
    sx, sxx = sum(xs), sum(x * x for x in xs)
    sd, sxd = sum(ds), sum(x * d for x, d in zip(xs, ds))
    sdd = sum(d * d for d in ds)
    det = n * sxx - sx * sx
    b = (n * sxd - sx * sd) / det
    a = (sd - b * sx) / n
    sse = sdd - a * sd - b * sxd
    se_b = math.sqrt(sse / (n - 2) * n / det)
    assert row["n"] == n
    assert row["b6"] == pytest.approx(b, abs=2e-6)
    assert row["t_df6"] == pytest.approx(b / se_b, abs=2e-6)


def test_kpss_reference(spark, sf_dir):
    from inferdb_spark.gate_r10c import q_kpss_level_stat

    row = q_kpss_level_stat(spark, sf_dir).collect()[0]
    ys = _weekly(sf_dir)
    n = len(ys)
    mean = sum(ys) / n
    cum = ssq = 0.0
    for y in ys:
        cum += y - mean
        ssq += cum * cum
    sigma2 = (sum(y * y for y in ys) - sum(ys) ** 2 / n) / n
    assert row["n"] == n
    assert row["eta6"] == pytest.approx(ssq / (n * n * sigma2), abs=2e-6)


def test_newey_west_reference(spark, sf_dir):
    from inferdb_spark.gate_r10c import _NW_L, q_newey_west_hac

    row = q_newey_west_hac(spark, sf_dir).collect()[0]
    ys = _weekly(sf_dir)
    n = len(ys)
    mean = sum(ys) / n
    dev = [y - mean for y in ys]
    g = [
        sum(round(dev[t] * dev[t - l]) for t in range(l, n))
        for l in range(_NW_L + 1)
    ]
    lrv = (g[0] + sum(2 * (1 - l / (_NW_L + 1)) * g[l] for l in range(1, _NW_L + 1))) / n
    assert row["n"] == n
    assert row["gamma0_m6"] == pytest.approx(g[0] / n / 1e6, abs=2e-6)
    assert row["lrv_m6"] == pytest.approx(lrv / 1e6, abs=2e-6)
    assert row["se_mean6"] == pytest.approx(math.sqrt(lrv / n), abs=2e-6)


def test_variance_ratio_reference(spark, sf_dir):
    from inferdb_spark.gate_r10c import _VR_Q, q_variance_ratio_test

    row = q_variance_ratio_test(spark, sf_dir).collect()[0]
    ys = _weekly(sf_dir)
    d = [b - a for a, b in zip(ys, ys[1:])]
    dq = [ys[t] - ys[t - _VR_Q] for t in range(_VR_Q, len(ys))]
    n = len(d)
    mu = sum(d) / n
    var1 = (sum(x * x for x in d) - n * mu * mu) / (n - 1)
    m = _VR_Q * (n - _VR_Q + 1) * (1 - _VR_Q / n)
    varq = (
        sum(x * x for x in dq)
        - 2 * _VR_Q * mu * sum(dq)
        + len(dq) * _VR_Q**2 * mu * mu
    ) / m
    vr = varq / (_VR_Q * var1)
    z = (vr - 1) / math.sqrt(
        2 * (2 * _VR_Q - 1) * (_VR_Q - 1) / (3 * _VR_Q * n)
    )
    assert row["n"] == n and row["nq"] == len(dq)
    assert row["vr4_6"] == pytest.approx(vr, abs=2e-6)
    assert row["z6"] == pytest.approx(z, abs=2e-6)


def test_theta_forecast_reference(spark, sf_dir):
    from inferdb_spark.gate_r10c import _THETA_ALPHA, _THETA_H, q_theta_method_forecast

    rows = q_theta_method_forecast(spark, sf_dir).collect()
    ys = _weekly(sf_dir)
    wk = duckdb.sql(
        f"""select distinct cast(datediff('day', DATE '1970-01-01',
                   o_orderdate) // 7 as bigint) wk
            from '{sf_dir}/orders.parquet' order by 1"""
    ).fetchall()
    xs = [w for (w,) in wk]
    n = len(ys)
    sx, sxx, sy = sum(xs), sum(x * x for x in xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    lvl = float(ys[0])
    for y in ys[1:]:
        lvl = _THETA_ALPHA * y + (1 - _THETA_ALPHA) * lvl
    assert len(rows) == _THETA_H
    for r in rows:
        want = lvl + 0.5 * b * ((r["h"] - 1) + 1 / _THETA_ALPHA)
        assert r["forecast_k6"] == pytest.approx(want, abs=2e-6)


# ---------------------------------------------------------------------------
# r10b: ML eval / training
# ---------------------------------------------------------------------------


def test_mcc_reference(spark, sf_dir):
    from inferdb_spark.gate_ml import LIN_B, LIN_COEF_D, LIN_COEF_Q, LIN_COEF_T
    from inferdb_spark.gate_r10b import q_mcc_matthews_eval

    row = q_mcc_matthews_eval(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""select cast(round((l_quantity * {LIN_COEF_Q!r}
                   + l_discount * {LIN_COEF_D!r} + l_tax * {LIN_COEF_T!r}
                   + {LIN_B!r}) * 1000) as bigint) s,
                   case when l_returnflag = 'R' then 1 else 0 end y
            from '{sf_dir}/lineitem.parquet'"""
    ).fetchall()
    tp = sum(1 for s, y in rows if s >= 0 and y == 1)
    fp = sum(1 for s, y in rows if s >= 0 and y == 0)
    fn = sum(1 for s, y in rows if s < 0 and y == 1)
    tn = sum(1 for s, y in rows if s < 0 and y == 0)
    assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (tp, fp, fn, tn)
    mcc = (tp * tn - fp * fn) / math.sqrt(
        float((tp + fp) * (tp + fn)) * float((tn + fp) * (tn + fn))
    )
    assert row["mcc6"] == pytest.approx(mcc, abs=2e-6)
    assert row["balanced_acc6"] == pytest.approx(
        0.5 * (tp / (tp + fn) + tn / (tn + fp)), abs=2e-6
    )


def _py_h52(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:13], 16)


def test_iv_wald_reference(spark, sf_dir):
    from inferdb_spark.gate_r10b import q_iv_wald_estimator

    row = q_iv_wald_estimator(spark, sf_dir).collect()[0]
    per_c = duckdb.sql(
        f"""select c.c_custkey,
                   cast(count(o.o_orderkey) as bigint) x,
                   cast(coalesce(sum(cast(round(o.o_totalprice) as bigint)), 0)
                        as bigint) yd
            from '{sf_dir}/customer.parquet' c
            left join '{sf_dir}/orders.parquet' o on c.c_custkey = o.o_custkey
            group by 1"""
    ).fetchall()
    arms = {0: [0, 0, 0], 1: [0, 0, 0]}
    for ck, x, yd in per_c:
        z = _py_h52(f"iv{ck}") % 2
        arms[z][0] += 1
        arms[z][1] += x
        arms[z][2] += yd
    (n0, sx0, sy0), (n1, sx1, sy1) = arms[0], arms[1]
    itt = sy1 / n1 - sy0 / n0
    fs = sx1 / n1 - sx0 / n0
    assert (row["n0"], row["n1"]) == (n0, n1)
    assert row["itt_k6"] == pytest.approx(itt / 1000, abs=2e-6)
    assert row["first_stage6"] == pytest.approx(fs, abs=2e-6)
    assert row["wald_beta6"] == pytest.approx(itt / fs, abs=1e-4)


def test_ridge_reference(spark, sf_dir):
    from inferdb_spark.gate_r10b import q_ridge_regression_gram

    row = q_ridge_regression_gram(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""select cast(l_quantity as bigint),
                   cast(round(l_discount * 100) as bigint),
                   cast(round(l_extendedprice) as bigint)
            from '{sf_dir}/lineitem.parquet'"""
    ).fetchall()
    n = len(rows)
    s1 = sum(r[0] for r in rows)
    s2 = sum(r[1] for r in rows)
    sy = sum(r[2] for r in rows)
    q1 = sum(r[0] * r[0] for r in rows)
    q2 = sum(r[1] * r[1] for r in rows)
    c12 = sum(r[0] * r[1] for r in rows)
    c1y = sum(r[0] * r[2] for r in rows)
    c2y = sum(r[1] * r[2] for r in rows)
    C11 = float(n) * q1 - float(s1) * s1
    C22 = float(n) * q2 - float(s2) * s2
    C12 = float(n) * c12 - float(s1) * s2
    R1 = float(n) * c1y - float(s1) * sy
    R2 = float(n) * c2y - float(s2) * sy

    def solve(lam):
        det = (C11 + lam) * (C22 + lam) - C12 * C12
        return (
            ((C22 + lam) * R1 - C12 * R2) / det,
            ((C11 + lam) * R2 - C12 * R1) / det,
        )

    b1o, b2o = solve(0.0)
    lam = 0.01 * (C11 + C22) / 2
    b1r, b2r = solve(lam)
    assert row["b1_ols6"] == pytest.approx(b1o, abs=2e-6)
    assert row["b2_ols6"] == pytest.approx(b2o, abs=2e-6)
    assert row["b1_ridge6"] == pytest.approx(b1r, abs=2e-6)
    assert row["b2_ridge6"] == pytest.approx(b2r, abs=2e-6)
    # ridge shrinks the coefficient magnitudes
    assert abs(b1r) <= abs(b1o) + 1e-9


def test_e2e_curation_index_consistency(spark, sf_dir):
    """The index leg must score the SAME curated corpus the e2e pipeline
    gate curates: per-source doc counts in the scored relation equal the
    post-decontamination counts (before the budget stage)."""
    from inferdb_spark.gate_curate import E2E_DECON_N, E2E_DECON_SHARED, E2E_MIN_TOKENS
    from inferdb_spark.gate_r10b import q_e2e_curation_index

    rows = q_e2e_curation_index(spark, sf_dir).collect()
    assert rows, "curated corpus must be non-empty"
    assert all(r["mae6"] is not None and r["mae6"] >= 0 for r in rows)
    # MAE of a group-mean predictor is bounded by the label range
    assert all(r["mae6"] < 100.0 for r in rows)
    total = sum(r["n_docs"] for r in rows)
    # sanity: the chain kept a nontrivial fraction of the corpus
    n_corpus = duckdb.sql(
        f"select count(*) from '{sf_dir}/documents.parquet'"
        " where doc_id % 50 != 0"
    ).fetchone()[0]
    assert 0 < total <= n_corpus


# ---------------------------------------------------------------------------
# r10d: ordered trend / distances / graph / privacy
# ---------------------------------------------------------------------------


def test_jonckheere_reference(spark, sf_dir):
    from inferdb_spark.gate_r10d import _JT_BIN_CENTS, q_jonckheere_terpstra_trend

    row = q_jonckheere_terpstra_trend(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""select o_orderpriority,
                   cast(round(o_totalprice * 100) as bigint) // {_JT_BIN_CENTS}
            from '{sf_dir}/orders.parquet'"""
    ).fetchall()
    groups = sorted({g for g, _ in rows})
    vals = {g: sorted(v for gg, v in rows if gg == g) for g in groups}
    j2 = 0
    for a in range(len(groups)):
        for b in range(a + 1, len(groups)):
            xi, xj = vals[groups[a]], vals[groups[b]]
            ci, cj = Counter(xi), Counter(xj)
            for v_i, n_i in ci.items():
                j2 += 2 * n_i * sum(n_j for v_j, n_j in cj.items() if v_i < v_j)
                j2 += n_i * cj.get(v_i, 0)
    ns = [len(vals[g]) for g in groups]
    n = sum(ns)
    e2 = (n * n - sum(x * x for x in ns)) // 2
    var = (n * n * (2 * n + 3) - sum(x * x * (2 * x + 3) for x in ns)) / 72
    z = (j2 - e2) / 2 / math.sqrt(var)
    assert row["j2"] == j2 and row["e2"] == e2 and row["n"] == n
    assert row["z6"] == pytest.approx(z, abs=2e-6)


def test_hellinger_reference(spark, sf_dir):
    from inferdb_spark.gate_r10d import (
        _HB_BIN_CENTS,
        _HB_SPLIT,
        q_hellinger_bhattacharyya_drift,
    )

    row = q_hellinger_bhattacharyya_drift(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""select cast(round(o_totalprice * 100) as bigint) // {_HB_BIN_CENTS},
                   case when o_orderdate < DATE '{_HB_SPLIT}' then 1 else 0 end
            from '{sf_dir}/orders.parquet'"""
    ).fetchall()
    ca = Counter(v for v, p in rows if p == 1)
    cb = Counter(v for v, p in rows if p == 0)
    na, nb = sum(ca.values()), sum(cb.values())
    assert na > 0 and nb > 0, "split must populate both periods at every SF"
    bc_nano = sum(
        round(1e9 * math.sqrt(ca.get(v, 0) * cb.get(v, 0)) / math.sqrt(na * nb))
        for v in set(ca) | set(cb)
    )
    bc = bc_nano / 1e9
    assert (row["na"], row["nb"]) == (na, nb)
    assert row["bc6"] == pytest.approx(bc, abs=2e-6)
    assert row["hellinger6"] == pytest.approx(math.sqrt(max(0.0, 1 - bc)), abs=2e-6)
    assert row["bhattacharyya6"] == pytest.approx(-math.log(bc), abs=2e-6)


def test_hotelling_reference(spark, sf_dir):
    from inferdb_spark.gate_r10d import q_hotelling_t2_two_sample

    row = q_hotelling_t2_two_sample(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""select l_returnflag, cast(l_quantity as bigint),
                   cast(round(l_tax * 100) as bigint)
            from '{sf_dir}/lineitem.parquet'
            where l_returnflag in ('R', 'N')"""
    ).fetchall()
    a = [(x1, x2) for g, x1, x2 in rows if g == "R"]
    b = [(x1, x2) for g, x1, x2 in rows if g == "N"]
    na, nb = len(a), len(b)

    def ss(pts):
        s1 = sum(p[0] for p in pts)
        s2 = sum(p[1] for p in pts)
        n = len(pts)
        return (
            sum(p[0] * p[0] for p in pts) - s1 * s1 / n,
            sum(p[1] * p[1] for p in pts) - s2 * s2 / n,
            sum(p[0] * p[1] for p in pts) - s1 * s2 / n,
            s1 / n,
            s2 / n,
        )

    ssa, ssb = ss(a), ss(b)
    dof = na + nb - 2
    s11 = (ssa[0] + ssb[0]) / dof
    s22 = (ssa[1] + ssb[1]) / dof
    s12 = (ssa[2] + ssb[2]) / dof
    d1 = ssa[3] - ssb[3]
    d2 = ssa[4] - ssb[4]
    det = s11 * s22 - s12 * s12
    quad = (s22 * d1 * d1 - 2 * s12 * d1 * d2 + s11 * d2 * d2) / det
    t2 = na * nb / (na + nb) * quad
    assert (row["n_a"], row["n_b"]) == (na, nb)
    assert row["t2_6"] == pytest.approx(t2, abs=2e-5)
    assert row["d1_6"] == pytest.approx(d1, abs=2e-6)


def test_assortativity_reference(spark, sf_dir):
    from inferdb_spark.gate_r10d import q_degree_assortativity

    row = q_degree_assortativity(spark, sf_dir).collect()[0]
    edges = duckdb.sql(
        f"""select distinct cast(l_suppkey as bigint), cast(l_partkey as bigint)
            from '{sf_dir}/lineitem.parquet'"""
    ).fetchall()
    ds = Counter(s for s, _ in edges)
    dp = Counter(p for _, p in edges)
    ab = [(ds[s], dp[p]) for s, p in edges]
    ne = len(ab)
    sa = sum(x for x, _ in ab)
    sb = sum(y for _, y in ab)
    saa = sum(x * x for x, _ in ab)
    sbb = sum(y * y for _, y in ab)
    sab = sum(x * y for x, y in ab)
    r = (ne * sab - sa * sb) / math.sqrt(
        float(ne * saa - sa * sa) * float(ne * sbb - sb * sb)
    )
    assert row["ne"] == ne
    assert row["assortativity6"] == pytest.approx(r, abs=2e-6)


def test_t_closeness_reference(spark, sf_dir):
    from inferdb_spark.gate_r10d import q_t_closeness_audit

    rows = q_t_closeness_audit(spark, sf_dir).collect()
    data = duckdb.sql(
        f"""select cast(c_nationkey as bigint), c_mktsegment,
                   case when c_acctbal < 0 then 0
                        when c_acctbal < 5000 then 1 else 2 end
            from '{sf_dir}/customer.parquet'"""
    ).fetchall()
    per_g: dict[tuple, list[int]] = {}
    glob = [0, 0, 0]
    for nat, seg, cl in data:
        g = per_g.setdefault((nat, seg), [0, 0, 0])
        g[cl] += 1
        glob[cl] += 1
    n = sum(glob)
    got = {(r["nat"], r["seg"]): r for r in rows}
    assert len(got) == len(per_g)
    for key, cnt in per_g.items():
        ng = sum(cnt)
        emd = (
            abs(cnt[0] / ng - glob[0] / n)
            + abs((cnt[0] + cnt[1]) / ng - (glob[0] + glob[1]) / n)
        ) / 2
        r = got[key]
        assert r["ng"] == ng
        assert r["emd6"] == pytest.approx(emd, abs=2e-6)
        assert r["violates_t"] == (1 if round(emd, 6) > 0.15 else 0)


def test_weibull_shape_sane(spark, sf_dir):
    from inferdb_spark.gate_r10b import q_weibull_survival_fit

    row = q_weibull_survival_fit(spark, sf_dir).collect()[0]
    if row["np"] >= 3:
        # a real curve: positive finite shape
        assert row["shape6"] is not None and 0.05 < row["shape6"] < 20.0
        assert row["ln_scale6"] is not None
    else:
        # degenerate tiny-SF curve (sf0.001 has too few uncensored
        # lifetimes): the NULL-not-raise contract
        assert row["shape6"] is None


def test_weibull_shape_sane_sf001(spark):
    from inferdb_spark.gate_r10b import q_weibull_survival_fit

    row = q_weibull_survival_fit(spark, "/root/testdata/sf0.01").collect()[0]
    assert row["np"] >= 3
    assert row["shape6"] is not None and 0.05 < row["shape6"] < 20.0
