"""Third-implementation checks for the round-8 batch-6 gates
(inferdb_spark/gate_r8f.py): literal pure-python recomputations — a
sorted-median Levene, a per-block midrank Friedman, a row-level Cochran
Q, an adjacency-dict link-prediction pass, and a regex readability
counter.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

import duckdb
import pytest


def test_levene_brown_forsythe_reference(spark, sf_dir):
    from inferdb_spark.gate_r8f import q_levene_brown_forsythe

    row = q_levene_brown_forsythe(spark, sf_dir).collect()[0]
    data = duckdb.sql(
        f"""select o_orderpriority, o_orderkey,
                   cast(round(o_totalprice) as bigint)
            from '{sf_dir}/orders.parquet'"""
    ).fetchall()
    groups = defaultdict(list)
    for g, okey, y in data:
        groups[g].append((y, okey))
    zs = {}
    for g, ys in groups.items():
        ys.sort()
        m = ys[(len(ys) + 1) // 2 - 1][0]
        zs[g] = [abs(y - m) for y, _ in ys]
    k = len(zs)
    n = sum(len(v) for v in zs.values())
    s = sum(sum(v) for v in zs.values())
    q_sum = sum(sum(z * z for z in v) for v in zs.values())
    t_sum = sum(round(sum(v) * sum(v) / len(v)) for v in zs.values())
    f = ((t_sum - s * s / n) / (k - 1)) / ((q_sum - t_sum) / (n - k))
    assert row["k"] == k and row["n"] == n
    assert row["f6"] == pytest.approx(f, rel=1e-4)
    assert row["f6"] > 0.0


def test_friedman_reference(spark, sf_dir):
    from inferdb_spark.gate_r8f import q_friedman_test_lines

    row = q_friedman_test_lines(spark, sf_dir).collect()[0]
    data = duckdb.sql(
        f"""select l_orderkey, l_linenumber,
                   cast(round(l_extendedprice) as bigint)
            from '{sf_dir}/lineitem.parquet' where l_linenumber <= 3"""
    ).fetchall()
    orders = defaultdict(dict)
    for ok, ln, v in data:
        # (order, linenumber) repeats in this synthetic data — the gate
        # takes the MAX value per position
        orders[ok][ln] = max(v, orders[ok].get(ln, v))
    blocks = [o for o in orders.values() if len(o) == 3]
    r2_tot = [0, 0, 0]
    a4 = 0
    for o in blocks:
        vs = [o[1], o[2], o[3]]
        for j, v in enumerate(vs):
            less = sum(1 for u in vs if u < v)
            equal = sum(1 for i2, u in enumerate(vs) if u == v and i2 != j)
            r2 = 2 + 2 * less + equal
            r2_tot[j] += r2
            a4 += r2 * r2
    nb = len(blocks)
    d2 = sum((r - 4 * nb) ** 2 for r in r2_tot)
    chi2 = 0.0 if a4 - 48 * nb == 0 else 2.0 * d2 / (a4 - 48 * nb)
    assert row["n_blocks"] == nb
    assert [row["r2_1"], row["r2_2"], row["r2_3"]] == r2_tot
    assert row["a4"] == a4
    assert row["chi2_6"] == pytest.approx(chi2, abs=1e-5)
    # placebo: line position carries no signal, chi2 stays far from the
    # saturated value 2n (all-blocks-agree)
    assert row["chi2_6"] < 0.5 * nb


def test_cochran_q_reference(spark, sf_dir):
    from inferdb_spark.gate_r8f import q_cochran_q_binary

    row = q_cochran_q_binary(spark, sf_dir).collect()[0]
    data = duckdb.sql(
        f"""select l_quantity, l_extendedprice, l_discount
            from '{sf_dir}/lineitem.parquet'"""
    ).fetchall()
    c = [0, 0, 0]
    sum_r2 = 0
    for q, ep, d in data:
        b = [1 if q >= 25 else 0, 1 if ep > 30000 else 0, 1 if d >= 0.05 else 0]
        for j in range(3):
            c[j] += b[j]
        sum_r2 += sum(b) ** 2
    n = len(data)
    num = 2.0 * (3.0 * sum(x * x for x in c) - sum(c) ** 2)
    den = 3 * sum(c) - sum_r2
    qstat = 0.0 if den == 0 else num / den
    assert row["n"] == n and [row["c1"], row["c2"], row["c3"]] == c
    assert row["q6"] == pytest.approx(qstat, rel=1e-5)
    assert row["df"] == 2


def test_link_prediction_reference(spark, sf_dir):
    from inferdb_spark.gate_r8f import _LP_TOPK, q_link_prediction_scores

    rows = q_link_prediction_scores(spark, sf_dir).collect()
    edges = duckdb.sql(
        f"""select distinct cast(l_suppkey as bigint),
                            cast(l_partkey as bigint)
            from '{sf_dir}/lineitem.parquet'"""
    ).fetchall()
    parts = defaultdict(set)
    supp = defaultdict(set)
    for s, p in edges:
        parts[p].add(s)
        supp[s].add(p)
    aa = defaultdict(int)
    common = defaultdict(int)
    for p, ss in parts.items():
        if len(ss) < 2:
            continue
        w = round(1e6 / math.log(len(ss)))
        ss_sorted = sorted(ss)
        for i, s1 in enumerate(ss_sorted):
            for s2 in ss_sorted[i + 1 :]:
                aa[(s1, s2)] += w
                common[(s1, s2)] += 1
    top = sorted(aa.items(), key=lambda kv: (-kv[1], kv[0]))[:_LP_TOPK]
    assert len(rows) == min(_LP_TOPK, len(top))
    for row, ((s1, s2), aa_u) in zip(rows, top):
        assert (row["s1"], row["s2"]) == (s1, s2)
        assert row["common"] == common[(s1, s2)]
        assert row["deg1"] == len(supp[s1]) and row["deg2"] == len(supp[s2])
        assert row["adamic_adar6"] == pytest.approx(aa_u / 1e6, abs=2e-6)
        j = common[(s1, s2)] / (len(supp[s1]) + len(supp[s2]) - common[(s1, s2)])
        assert row["jaccard6"] == pytest.approx(j, abs=1e-6)


def test_readability_reference(spark, sf_dir):
    from inferdb_spark.gate_r8f import q_readability_scores

    out = {r["doc_id"]: r for r in q_readability_scores(spark, sf_dir).collect()}
    docs = duckdb.sql(
        f"select doc_id, text from '{sf_dir}/documents.parquet'"
    ).fetchall()
    assert len(out) == len(docs)
    for doc_id, text in docs:
        norm = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", " ", text.lower())).strip()
        w = len(norm.split(" ")) if norm else 0
        s = max(1, len(re.findall(r"[.!?]+", text)))
        cleaned = re.sub(r"[^a-z ]", " ", text.lower())
        syl = len(re.findall(r"[aeiouy]+", cleaned))
        row = out[doc_id]
        assert row["n_words"] == w
        assert row["n_sentences"] == s
        assert row["n_syllables"] == syl
        if w == 0:
            assert row["flesch6"] == 0.0
        else:
            fl = 206.835 - 1.015 * (w / s) - 84.6 * (syl / w)
            fk = 0.39 * (w / s) + 11.8 * (syl / w) - 15.59
            assert row["flesch6"] == pytest.approx(fl, abs=1e-5)
            assert row["fk_grade6"] == pytest.approx(fk, abs=1e-5)
