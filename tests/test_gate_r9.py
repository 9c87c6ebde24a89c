"""Third-implementation checks for the round-9 gates
(inferdb_spark/gate_r9a/b/c.py): pure-python recomputation of every
statistic from the raw parquet, independent of both the Spark plans and
the DuckDB oracles that tools/verify_local.py compares.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb
import pytest


# ---------------------------------------------------------------------------
# r9b: two-group family on (o_orderpriority, round(o_totalprice))
# ---------------------------------------------------------------------------


def _two_groups(sf_dir):
    rows = duckdb.sql(
        f"""select o_orderpriority, cast(round(o_totalprice) as bigint)
            from '{sf_dir}/orders.parquet'
            where o_orderpriority in ('1-URGENT', '5-LOW')"""
    ).fetchall()
    g = defaultdict(list)
    for grp, y in rows:
        g[grp].append(y)
    return g["1-URGENT"], g["5-LOW"]


def _moments(xs):
    n = len(xs)
    s = sum(xs)
    q = sum(x * x for x in xs)
    ss = q - round(s * s / n)  # the gate's unit-quantized t_u
    return n, s, ss


def test_welch_t_reference(spark, sf_dir):
    from inferdb_spark.gate_r9b import q_welch_t_test

    row = q_welch_t_test(spark, sf_dir).collect()[0]
    a, b = _two_groups(sf_dir)
    n1, s1, ss1 = _moments(a)
    n2, s2, ss2 = _moments(b)
    m1, m2 = s1 / n1, s2 / n2
    v1, v2 = ss1 / (n1 - 1), ss2 / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    t = (m1 - m2) / math.sqrt(se2)
    df = se2 * se2 / (
        (v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1)
    )
    assert row["n1"] == n1 and row["n2"] == n2
    assert row["t6"] == pytest.approx(t, abs=2e-6)
    assert row["df6"] == pytest.approx(df, rel=1e-6)
    assert row["mean1_k6"] == pytest.approx(m1 / 1000.0, abs=2e-6)
    # placebo: priorities are price-independent, |t| should be modest
    assert abs(row["t6"]) < 6.0


def test_effect_sizes_reference(spark, sf_dir):
    from inferdb_spark.gate_r9b import q_effect_sizes_two_group

    row = q_effect_sizes_two_group(spark, sf_dir).collect()[0]
    a, b = _two_groups(sf_dir)
    n1, s1, ss1 = _moments(a)
    n2, s2, ss2 = _moments(b)
    m1, m2 = s1 / n1, s2 / n2
    sp = math.sqrt((ss1 + ss2) / (n1 + n2 - 2))
    d = (m1 - m2) / sp
    g = d * (1 - 3.0 / (4.0 * (n1 + n2) - 9.0))
    glass = (m1 - m2) / math.sqrt(ss2 / (n2 - 1))
    assert row["cohens_d6"] == pytest.approx(d, abs=2e-6)
    assert row["hedges_g6"] == pytest.approx(g, abs=2e-6)
    assert row["glass_delta6"] == pytest.approx(glass, abs=2e-6)
    assert abs(row["cohens_d6"]) < 0.5  # placebo contrast


def test_cliffs_delta_reference(spark, sf_dir):
    from inferdb_spark.gate_r9b import _CLIFF_BIN_CENTS, q_cliffs_delta_binned

    row = q_cliffs_delta_binned(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""select o_orderpriority,
                   cast(round(o_totalprice * 100) as bigint) // {_CLIFF_BIN_CENTS}
            from '{sf_dir}/orders.parquet'
            where o_orderpriority in ('1-URGENT', '5-LOW')"""
    ).fetchall()
    xs = sorted(v for g, v in rows if g == "1-URGENT")
    ys = sorted(v for g, v in rows if g == "5-LOW")
    import bisect

    gt = sum(bisect.bisect_left(ys, x) for x in xs)
    lt = sum(len(ys) - bisect.bisect_right(ys, x) for x in xs)
    assert row["n1"] == len(xs) and row["n2"] == len(ys)
    assert row["gt_pairs"] == gt and row["lt_pairs"] == lt
    delta = (gt - lt) / (len(xs) * len(ys))
    assert row["cliffs_delta6"] == pytest.approx(delta, abs=2e-6)
    assert abs(row["cliffs_delta6"]) < 0.2  # placebo


def test_g_test_reference(spark, sf_dir):
    from inferdb_spark.gate_r9c import load_table  # noqa: F401 (import check)
    from inferdb_spark.gate_r9b import q_g_test_independence

    row = q_g_test_independence(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""select l_returnflag, l_linestatus, count(*)
            from '{sf_dir}/lineitem.parquet' group by 1, 2"""
    ).fetchall()
    n = sum(c for _, _, c in rows)
    na = Counter()
    nb = Counter()
    for a, b, c in rows:
        na[a] += c
        nb[b] += c
    g_micro = sum(
        round(2.0 * c * math.log(c * n / (na[a] * nb[b])) * 1e6)
        for a, b, c in rows
    )
    dof = (len(na) - 1) * (len(nb) - 1)
    assert row["g_micro"] == g_micro
    assert row["dof"] == dof and row["n_cells"] == len(rows)


def test_icc_reference(spark, sf_dir):
    from inferdb_spark.gate_r9b import q_icc_oneway_customer

    row = q_icc_oneway_customer(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""select o_custkey, cast(round(o_totalprice) as bigint)
            from '{sf_dir}/orders.parquet'"""
    ).fetchall()
    g = defaultdict(list)
    for k, y in rows:
        g[k].append(y)
    G = len(g)
    n = sum(len(v) for v in g.values())
    s = sum(sum(v) for v in g.values())
    q = sum(sum(y * y for y in v) for v in g.values())
    t_sum = sum(round(sum(v) * sum(v) / len(v)) for v in g.values())
    nn = sum(len(v) ** 2 for v in g.values())
    msb = (t_sum - s * s / n) / (G - 1)
    msw = (q - t_sum) / (n - G)
    k0 = (n - nn / n) / (G - 1)
    icc = (msb - msw) / (msb + (k0 - 1) * msw)
    assert row["g"] == G and row["n"] == n
    assert row["f6"] == pytest.approx(msb / msw, rel=1e-5)
    assert row["icc1_6"] == pytest.approx(icc, abs=2e-6)
    assert abs(row["icc1_6"]) < 0.3  # order values ~independent of customer


# ---------------------------------------------------------------------------
# r9c
# ---------------------------------------------------------------------------


def test_krippendorff_reference(spark, sf_dir):
    from inferdb_spark.gate_r9c import q_krippendorff_alpha_nominal

    row = q_krippendorff_alpha_nominal(spark, sf_dir).collect()[0]
    N = row["n_items"]
    d_sum = row["d_sum"]
    cs = [row["c0"], row["c1"], row["c2"]]
    assert sum(cs) == 3 * N
    do = d_sum / (3.0 * N)
    ntot = 3 * N
    de = 1.0 - sum(c * (c - 1) for c in cs) / (ntot * (ntot - 1))
    alpha = 1.0 - do / de
    assert row["alpha6"] == pytest.approx(alpha, abs=2e-6)
    assert -1.0 <= row["alpha6"] <= 1.0


def test_krippendorff_vs_fleiss_construction(spark, sf_dir):
    """alpha and the existing fleiss kappa must see the SAME rater triple
    (same marginals c0/c1/c2, complementary agreement encodings)."""
    from inferdb_spark.gate_r7g import q_fleiss_kappa_raters
    from inferdb_spark.gate_r9c import q_krippendorff_alpha_nominal

    fk = q_fleiss_kappa_raters(spark, sf_dir).collect()[0]
    ka = q_krippendorff_alpha_nominal(spark, sf_dir).collect()[0]
    assert (fk["c0"], fk["c1"], fk["c2"]) == (ka["c0"], ka["c1"], ka["c2"])
    assert fk["n_items"] == ka["n_items"]
    # s_sum counts 9/5/3 agreements, d_sum counts 0/2/3 disagreements:
    # (9-s)/2 per item == d per item summed -> 3*(3*N) - s_sum == 2*... no:
    # per item: pairs_agree = (s-3)/2, pairs_disagree = 3 - (s-3)/2
    # => d_sum == 3*N - (s_sum - 3*N)/2  * ... verify numerically instead:
    n = fk["n_items"]
    assert ka["d_sum"] == 3 * n - (fk["s_sum"] - 3 * n) // 2


def test_concentration_indices_reference(spark, sf_dir):
    from inferdb_spark.gate_r9c import q_concentration_indices

    row = q_concentration_indices(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""select l_suppkey,
                   cast(sum(cast(round(l_extendedprice * (1 - l_discount))
                                 as bigint)) as bigint)
            from '{sf_dir}/lineitem.parquet' group by 1"""
    ).fetchall()
    revs = [r for _, r in rows]
    ns, tot = len(revs), sum(revs)
    hhi = sum(round(1e9 * (r / tot) ** 2) for r in revs) / 1e9
    theil = sum(round(1e6 * (r / tot) * math.log(r * ns / tot)) for r in revs) / 1e6
    sq = sum(round(1e6 * math.sqrt(r)) for r in revs)
    atk = 1.0 - (sq / 1e6 / ns) ** 2 / (tot / ns)
    assert row["ns"] == ns and row["tot"] == tot
    assert row["hhi6"] == pytest.approx(hhi, abs=2e-6)
    assert row["theil_t6"] == pytest.approx(theil, abs=2e-6)
    assert row["atkinson_half6"] == pytest.approx(atk, abs=2e-6)
    # a uniform-ish synthetic supplier split: HHI near 1/ns, both
    # inequality indices small
    assert row["hhi6"] < 5.0 / ns + 0.01
    assert 0.0 <= row["atkinson_half6"] < 0.5


def test_err_rbp_reference(spark, sf_dir):
    """recompute ERR/RBP from the gate's own top-k relation, then check
    the cascade identities hold (ERR <= MRR-style bound, RBP bounds)."""
    from inferdb_spark.gate_r9c import _RBP_P, q_err_rbp_retrieval
    from inferdb_spark.gate_r9a import (
        N_PROBE,
        RANK_K,
        RANK_PLANES,
        rankivf_split,
    )
    from inferdb_spark.operators.rank_metrics import lsh_shortlist_pairs
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    got = {
        r["qid"]: r for r in q_err_rbp_retrieval(spark, sf_dir).collect()
    }
    qs, cs = rankivf_split(spark, sf_dir)
    pairs = lsh_shortlist_pairs(F.broadcast(qs), cs, RANK_PLANES, N_PROBE)
    w = Window.partitionBy("qid").orderBy(F.desc("cos6"), F.asc("cid"))
    top = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= RANK_K)
        .select("qid", "rnk", "rel")
        .collect()
    )
    per_q = defaultdict(dict)
    for r in top:
        per_q[r["qid"]][r["rnk"]] = r["rel"]
    assert set(per_q) == set(got)
    for qid, ranks in per_q.items():
        err = 0.0
        p_cont = 1.0
        rbp = 0.0
        for r in sorted(ranks):
            rel = ranks[r]
            if rel == 1:
                # micro-quantized per-term, like the gate
                err += round(1e6 * p_cont * 0.5 / r) / 1e6
                p_cont *= 0.5
                rbp += round(1e6 * (1 - _RBP_P) * _RBP_P ** (r - 1)) / 1e6
        assert got[qid]["err6"] == pytest.approx(err, abs=2e-6)
        assert got[qid]["rbp6"] == pytest.approx(rbp, abs=2e-6)
        assert 0.0 <= got[qid]["err6"] <= 1.0
        assert 0.0 <= got[qid]["rbp6"] <= 1.0


def test_boxcox_reference(spark, sf_dir):
    from inferdb_spark.gate_r9c import _BC_LAMBDAS, q_boxcox_loglik_grid

    rows = {r["lam"]: r["ll6"] for r in q_boxcox_loglik_grid(spark, sf_dir).collect()}
    assert sorted(rows) == sorted(_BC_LAMBDAS)
    xs = [
        c / 100000.0
        for (c,) in duckdb.sql(
            f"""select cast(round(l_extendedprice * 100) as bigint)
                from '{sf_dir}/lineitem.parquet'"""
        ).fetchall()
    ]
    n = len(xs)
    slx = sum(round(math.log(x) * 1e6) for x in xs) / 1e6
    for lam in _BC_LAMBDAS:
        if lam == 0.0:
            zs = [math.log(x) for x in xs]
        else:
            zs = [(x ** lam - 1.0) / lam for x in xs]
        s = sum(round(z * 1e6) for z in zs) / 1e6
        q = sum(round(z * z * 1e6) for z in zs) / 1e6
        var = (q - s * s / n) / n
        ll = -0.5 * n * math.log(var) + (lam - 1.0) * slx
        assert rows[lam] == pytest.approx(ll, abs=1e-4), lam


def test_lsh_multiprobe_properties(spark):
    """hyperplane_multiprobe_sql: first element is the own bucket, flips
    differ in exactly one bit, and the flipped bit is the weakest |proj|."""
    from inferdb_spark.operators import similarity as S
    from pyspark.sql import functions as F

    planes = S.make_hyperplanes(5, 8, seed=7)
    import random

    rng = random.Random(0)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], "i long, v array<double>")
    out = df.select(
        "i",
        F.expr(S.hyperplane_bucket_sql("`v`", planes)).alias("b"),
        F.expr(S.hyperplane_multiprobe_sql("`v`", planes, 2)).alias("probe"),
    ).collect()
    for r in out:
        v = vecs[r["i"]]
        projs = [sum(a * b for a, b in zip(v, p)) for p in planes]
        bucket = sum(2 ** i for i, d in enumerate(projs) if d > 0)
        weak = min(range(5), key=lambda i: (abs(projs[i]), i))
        assert r["b"] == bucket
        assert r["probe"][0] == bucket
        assert r["probe"][1] == bucket ^ (1 << weak)
