"""Round-7 gate internals vs brute-force references.

Each gate already has a DuckDB oracle (cross-engine value equality); these
tests pin the MATH against an independent O(n^2)/numpy reference at
sf0.001, so a bug that was mirrored into the oracle SQL would still be
caught.
"""

from __future__ import annotations

import math

import pytest

from inferdb_spark.gate_r7 import (
    _MW_BIN_CENTS,
    _PPS_K,
    _YB_CENTS,
    q_ams_f2_sketch,
    q_bh_fdr_screen,
    q_kendall_tau_binned,
    q_kneser_ney_bigram,
    q_mann_whitney_binned,
    q_pps_systematic_sample,
    q_seasonal_decompose_monthly,
    q_theil_sen_nation_trend,
)


def test_kendall_tau_matches_bruteforce(spark, sf_dir):
    row = q_kendall_tau_binned(spark, sf_dir).first()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pairs = [
        (int(r["l_quantity"]), int(round(r["l_extendedprice"] * 100)) // _YB_CENTS)
        for r in li.collect()
    ]
    n = len(pairs)
    conc = disc = 0
    for i in range(n):
        xi, yi = pairs[i]
        for j in range(i + 1, n):
            xj, yj = pairs[j]
            if xi == xj or yi == yj:
                continue
            if (xi < xj) == (yi < yj):
                conc += 1
            else:
                disc += 1
    assert row["n_rows"] == n
    assert row["conc"] == conc
    assert row["disc"] == disc
    from collections import Counter

    cx = Counter(x for x, _ in pairs)
    cy = Counter(y for _, y in pairs)
    n2 = n * (n - 1) // 2
    tx = sum(v * (v - 1) // 2 for v in cx.values())
    ty = sum(v * (v - 1) // 2 for v in cy.values())
    tau = (conc - disc) / (math.sqrt(n2 - tx) * math.sqrt(n2 - ty))
    assert row["tau_b"] == pytest.approx(tau, abs=1e-6)


def test_mann_whitney_matches_bruteforce(spark, sf_dir):
    row = q_mann_whitney_binned(spark, sf_dir).first()
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    g1, g2 = [], []
    for r in od.collect():
        v = int(round(r["o_totalprice"] * 100)) // _MW_BIN_CENTS
        if r["o_orderpriority"] == "1-URGENT":
            g1.append(v)
        elif r["o_orderpriority"] == "5-LOW":
            g2.append(v)
    u1 = sum(
        (1.0 if a > b else 0.5 if a == b else 0.0) for a in g1 for b in g2
    )
    assert row["n1"] == len(g1) and row["n2"] == len(g2)
    assert row["u1"] == pytest.approx(u1, abs=1e-9)
    # tie-corrected z reference
    from collections import Counter

    tc = Counter(g1) + Counter(g2)
    n = len(g1) + len(g2)
    tie = sum(t * (t * t - 1) for t in tc.values())
    var = len(g1) * len(g2) / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    z = (u1 - len(g1) * len(g2) / 2.0) / math.sqrt(var)
    assert row["z"] == pytest.approx(z, abs=1e-5)


def test_bh_fdr_stepup_property(spark, sf_dir):
    rows = q_bh_fdr_screen(spark, sf_dir).collect()
    m = len(rows)
    by_rank = sorted(rows, key=lambda r: r["rk"])
    # p6 is sorted by rank
    ps = [r["p6"] for r in by_rank]
    assert ps == sorted(ps)
    # BH step-up: k = max significant rank; rejected iff rank <= k
    sig = [r["rk"] for r in by_rank if r["p6"] <= 0.10 * r["rk"] / m]
    k = max(sig) if sig else 0
    for r in by_rank:
        assert r["rejected"] == (1 if r["rk"] <= k else 0)


def test_seasonal_decompose_identity_and_moy(spark, sf_dir):
    rows = q_seasonal_decompose_monthly(spark, sf_dir).collect()
    seas_by_moy = {}
    for r in rows:
        # additive identity on the interior months
        if r["trend"] is not None:
            assert r["rev_c"] == pytest.approx(
                r["trend"] + r["seasonal"] + r["remainder"], abs=2e-6
            )
        seas_by_moy.setdefault(r["ym"] % 100, set()).add(r["seasonal"])
    # the seasonal component is a pure function of calendar month
    assert all(len(v) == 1 for v in seas_by_moy.values())


def test_theil_sen_matches_numpy(spark, sf_dir):
    import numpy as np

    rows = {r["nk"]: r for r in q_theil_sen_nation_trend(spark, sf_dir).collect()}
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pdf = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .select("c_nationkey", "o_orderdate", "o_totalprice")
        .toPandas()
    )
    pdf["t"] = (pdf.o_orderdate.dt.year - 1992) * 12 + pdf.o_orderdate.dt.month
    pdf["v"] = (pdf.o_totalprice * 100).round().astype("int64")
    nk = int(pdf.c_nationkey.iloc[0])
    ser = pdf[pdf.c_nationkey == nk].groupby("t")["v"].sum().sort_index()
    ts, vs = ser.index.to_numpy(), ser.to_numpy()
    slopes = [
        (vs[j] - vs[i]) / (ts[j] - ts[i])
        for i in range(len(ts))
        for j in range(i + 1, len(ts))
    ]
    slopes.sort()
    lower_median = slopes[(len(slopes) + 1) // 2 - 1]
    assert rows[nk]["n_pairs"] == len(slopes)
    assert rows[nk]["sen_slope"] == pytest.approx(lower_median, abs=1e-6)
    assert np.isfinite(rows[nk]["sen_slope"])


def test_pps_sample_exact_k_and_weight_bias(spark, sf_dir):
    rows = q_pps_systematic_sample(spark, sf_dir).collect()
    per_seg = {}
    for r in rows:
        per_seg[r["seg"]] = per_seg.get(r["seg"], 0) + r["times_selected"]
        assert r["times_selected"] >= 1
    # systematic PPS draws EXACTLY k (with multiplicity) per stratum
    assert all(v == _PPS_K for v in per_seg.values())
    # selected sets are deterministic across re-runs
    again = q_pps_systematic_sample(spark, sf_dir).collect()
    assert sorted((r["seg"], r["ck"]) for r in rows) == sorted(
        (r["seg"], r["ck"]) for r in again
    )


def test_ams_f2_exact_and_ratio(spark, sf_dir):
    from collections import Counter

    from inferdb_spark.functions import text as TXT
    from pyspark.sql import functions as F

    row = q_ams_f2_sketch(spark, sf_dir).first()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(F.expr(TXT.tokens_sql("`text`"))).alias("t")).collect()
    c = Counter(r["t"] for r in toks)
    exact = sum(v * v for v in c.values())
    assert row["exact_f2"] == exact
    # 16-replica mean estimator: loose 3-sigma-ish sanity band
    assert 0.2 <= row["est_ratio"] <= 5.0


def test_kneser_ney_formula_spotcheck(spark, sf_dir):
    from collections import Counter

    from inferdb_spark.functions import text as TXT
    from inferdb_spark.operators.textprep import _bigram_structs
    from pyspark.sql import functions as F

    out = q_kneser_ney_bigram(spark, sf_dir).collect()
    assert len(out) == 50
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.expr(TXT.tokens_sql("`text`")).alias("t"))
    pairs = [
        (r["b"]["w1"], r["b"]["w2"])
        for r in toks.select(F.explode(_bigram_structs("t")).alias("b")).collect()
    ]
    big = Counter(pairs)
    uni = Counter(w1 for w1, _ in pairs)
    fert = Counter(w1 for (w1, _) in big.keys())
    cont = Counter(w2 for (_, w2) in big.keys())
    nb = len(big)
    for r in out[:5]:
        w1, w2 = r["w1"], r["w2"]
        p = (big[(w1, w2)] - 0.75) / uni[w1] + (0.75 * fert[w1] / uni[w1]) * (
            cont[w2] / nb
        )
        assert r["c12"] == big[(w1, w2)]
        assert r["p_kn"] == pytest.approx(p, abs=1e-6)
        assert 0.0 < r["p_kn"] <= 1.0
