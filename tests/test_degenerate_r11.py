"""Degenerate-input battery for the r11 gate fragments.

Same contract as tests/test_degenerate_r10.py: drive the SHARED SQL
fragments with moment rows that zero each denominator — collect() must
succeed and the undefined statistic must be NULL (never NaN/Inf/raise).

Covered: single block-maximum (Gumbel n-1), equidispersion and zero
variance (negative binomial), single duration (log-normal n-1), single
brand / single supplier (diversity, HHI norm), zero-variance feature
(lasso q = 0), isolated Bradley-Terry player (zero ratings sum / zero
S_i).  The raking scalings and Dawid-Skene ratios are nullif-guarded
inline but their zero denominators are unreachable by construction
(cells/margins exist only where counts >= 1); the elo fold divides
only by constants.
"""

from __future__ import annotations

import pytest

from inferdb_spark import gate_r11a, gate_r11b, gate_r11c


def _run(spark, schema: str, row: tuple, exprs: list[str]):
    return spark.createDataFrame([row], schema).selectExpr(*exprs).collect()[0]


def test_gumbel_single_month(spark):
    r = _run(spark, "nm long, sx long, sxx long",
             (1, 10_000_000, 10_000_000 * 10_000_000), gate_r11b._GB_OUT)
    assert r["beta_k6"] is None and r["mu_k6"] is None
    assert r["mean_max_k6"] == 100.0


@pytest.mark.parametrize("row,want_r,want_p", [
    ((4, 8, 22, None), None, 1.0),    # v = m = 2: equidispersed, r undefined
    ((4, 8, 16, None), -2.0, None),   # v = 0: p undefined, r = m^2/(0-m)
])
def test_negbin_degenerate(spark, row, want_r, want_p):
    r = _run(spark, "n long, sc long, scc long, pad long", row[:3] + (0,),
             gate_r11b._NB_OUT)
    assert r["r6"] == want_r and r["p6"] == want_p


def test_lognormal_single_duration(spark):
    r = _run(spark, "n long, sl long, sll long", (1, 2_000_000, 4_000_000),
             gate_r11b._LN_OUT)
    assert r["sigma6"] is None
    assert r["mu6"] == 2.0


def test_diversity_single_brand(spark):
    # one brand: H = 0, Simpson = 0, effective = 1
    r = _run(spark, "nat long, n_brands long, sh_nano long, sp_nano long",
             (1, 1, 0, 1_000_000_000), gate_r11b._SD_OUT)
    assert r["shannon6"] == 0.0 and r["simpson6"] == 0.0
    assert r["effective_brands6"] == 1.0


def test_hhi_single_supplier(spark):
    r = _run(spark, "nat long, n_suppliers long, s2_nano long",
             (1, 1, 1_000_000_000), gate_r11b._HH_OUT)
    assert r["hhi6"] == 1.0
    assert r["hhi_norm6"] is None  # (1 - 1/N)/(1 - 1/N) with N=1 -> 0/0
    assert r["effective_suppliers6"] == 1.0


_LCD_SCHEMA = ("n long, q1 long, q2 long, c12 long, c1y long, c2y long, "
               "b1_m long, b2_m long")


def test_lasso_zero_variance_feature(spark):
    # q1 = 0: the b1 update divides by zero -> NULL, active flag 0
    upd = gate_r11c._lcd_b(gate_r11c._lcd_z1("b2_m")).format(q="q1")
    r = _run(spark, _LCD_SCHEMA, (5, 0, 10, 0, 7, 9, 0, 0),
             [f"{upd} AS b1_m", "b2_m"])
    assert r["b1_m"] is None
    r2 = _run(spark, _LCD_SCHEMA, (5, 0, 10, 0, 7, 9, None, 0),
              gate_r11c._LCD_OUT)
    assert r2["b1_lasso6"] is None and r2["b1_active"] == 0


def test_bradley_terry_zero_denominators(spark):
    # two never-winning opponents: p_i + p_j = 0 -> pair term NULL;
    # a player with NULL S -> rating NULL, never a raise
    t = _run(spark, "n long, pi_m long, pj_m long", (3, 0, 0),
             [f"{gate_r11a._BT_T} AS t"])
    assert t["t"] is None
    p = _run(spark, "w long, s long", (2, 0), [f"{gate_r11a._BT_P} AS p"])
    assert p["p"] is None


def test_dcg_term_zero_grade(spark):
    r = _run(spark, "g long, r long", (0, 1),
             [f"{gate_r11a._DCG_TERM} AS t"])
    assert r["t"] == 0
