"""Round-9 gates, batch 3: annotation reliability (Krippendorff's
alpha), market/corpus concentration indices, cascade/persistence retrieval
metrics (ERR@10, RBP), and the Box-Cox transform selector.

Reference parity: none of these exist in the reference (its metric set is
accuracy/F1/RMSLE — src/transpiler.py:241-377); they extend the repo's
labeling-QA (cohens_kappa, fleiss_kappa_raters), mixture-skew
(gini_grouped_revenue), retrieval-eval (ranking_eval_*), and preprocessing
(robust_scale, outlier bounds) families with their standard next members.

Cross-engine determinism: integer counting wherever possible; every
fractional per-row/per-cell term micro/nano-quantized BEFORE a cross-row
sum; ln/sqrt/pow outputs only inside per-term quantization or final
6dp-rounded expressions; division chains shared verbatim between engines;
money held in whole dollars or kilodollars (6dp above ~1e9 is not
cross-engine-stable).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.hashing import duckdb_h52, h52
from inferdb_spark.gate import gate
from inferdb_spark.gate_r7g import _R1_SQL, _R2_SQL
from inferdb_spark.gate_r9a import (
    N_PROBE,
    RANK_K,
    RANK_PLANES,
    _RANKIVF_TOP_CTES,
    rankivf_split,
)
from inferdb_spark.operators.rank_metrics import lsh_shortlist_pairs

# ---------------------------------------------------------------------------
# Krippendorff's alpha (nominal) over the fleiss_kappa_raters triple
# ---------------------------------------------------------------------------

_KRIPP_OUT = [
    "n_items",
    "d_sum",
    "c0",
    "c1",
    "c2",
    # Do = d_sum / (3N); De = 1 - sum_c n_c(n_c-1) / (ntot(ntot-1)), ntot=3N;
    # alpha = 1 - Do/De — one shared division chain over exact BIGINTs
    "CAST(round(1.0 - (CAST(d_sum AS DOUBLE) / (3.0 * CAST(n_items AS DOUBLE)))"
    " / nullif(1.0 - CAST(c0 * (c0 - 1) + c1 * (c1 - 1) + c2 * (c2 - 1) AS DOUBLE)"
    " / (CAST(3 * n_items AS DOUBLE) * CAST(3 * n_items - 1 AS DOUBLE)), 0.0), 6)"
    " AS DOUBLE) AS alpha6",
]


@gate(
    "krippendorff_alpha_nominal",
    oracle=f"""
    WITH rated AS (
      SELECT {_R1_SQL} AS r1, {_R2_SQL} AS r2,
             {duckdb_h52("substr(text, 1, 16)")} % 3 AS r3
      FROM documents
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CASE WHEN r1 = r2 AND r2 = r3 THEN 0
                           WHEN r1 = r2 OR r1 = r3 OR r2 = r3 THEN 2
                           ELSE 3 END) AS BIGINT) AS d_sum,
             CAST(sum(CASE WHEN r1 = 0 THEN 1 ELSE 0 END
                      + CASE WHEN r2 = 0 THEN 1 ELSE 0 END
                      + CASE WHEN r3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(sum(CASE WHEN r1 = 1 THEN 1 ELSE 0 END
                      + CASE WHEN r2 = 1 THEN 1 ELSE 0 END
                      + CASE WHEN r3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN r1 = 2 THEN 1 ELSE 0 END
                      + CASE WHEN r2 = 2 THEN 1 ELSE 0 END
                      + CASE WHEN r3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM rated
    )
    SELECT {", ".join(_KRIPP_OUT)} FROM s
    """,
)
def q_krippendorff_alpha_nominal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal metric) for the SAME three
    deterministic raters as gate:fleiss_kappa_raters — the reliability
    coefficient annotation campaigns report when kappa's
    marginal-homogeneity assumption is contested (alpha corrects chance
    agreement by the POOLED value distribution and extends to missing
    data; with 3 complete raters the observed-disagreement term collapses
    to a 0/2/3 closed form on rater triples, making the whole statistic
    one integer aggregation).  Scale: one pass over documents; one row
    out."""
    docs = load_table(spark, sf_dir, "documents")
    rated = (
        docs.selectExpr("text", f"{_R1_SQL} AS r1", f"{_R2_SQL} AS r2")
        .withColumn("r3", h52(F.substring(F.col("text"), 1, 16)) % 3)
        .drop("text")
    )
    s = rated.selectExpr(
        "CAST(count(*) AS BIGINT) AS n_items",
        "CAST(sum(CASE WHEN r1 = r2 AND r2 = r3 THEN 0 "
        "WHEN r1 = r2 OR r1 = r3 OR r2 = r3 THEN 2 ELSE 3 END) AS BIGINT)"
        " AS d_sum",
        "CAST(sum(CASE WHEN r1 = 0 THEN 1 ELSE 0 END"
        " + CASE WHEN r2 = 0 THEN 1 ELSE 0 END"
        " + CASE WHEN r3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0",
        "CAST(sum(CASE WHEN r1 = 1 THEN 1 ELSE 0 END"
        " + CASE WHEN r2 = 1 THEN 1 ELSE 0 END"
        " + CASE WHEN r3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1",
        "CAST(sum(CASE WHEN r1 = 2 THEN 1 ELSE 0 END"
        " + CASE WHEN r2 = 2 THEN 1 ELSE 0 END"
        " + CASE WHEN r3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2",
    )
    return s.selectExpr(*_KRIPP_OUT)


# ---------------------------------------------------------------------------
# Concentration / inequality indices over supplier revenue
# ---------------------------------------------------------------------------

_CONC_TERMS = [
    # per-supplier fractional terms, quantized BEFORE the sum
    "CAST(round(1000000000.0 * (CAST(rev AS DOUBLE) / nullif(CAST(tot AS DOUBLE), 0.0))"
    " * (CAST(rev AS DOUBLE) / nullif(CAST(tot AS DOUBLE), 0.0))) AS BIGINT) AS hhi_nano",
    "CAST(round(1000000.0 * (CAST(rev AS DOUBLE) / nullif(CAST(tot AS DOUBLE), 0.0))"
    " * ln(CAST(rev AS DOUBLE) * CAST(ns AS DOUBLE) / nullif(CAST(tot AS DOUBLE), 0.0)))"
    " AS BIGINT) AS theil_micro",
    "CAST(round(1000000.0 * sqrt(CAST(rev AS DOUBLE))) AS BIGINT) AS sq_micro",
]
_CONC_OUT = [
    "ns",
    "tot",
    "CAST(round(CAST(hhi AS DOUBLE) / 1000000000.0, 6) AS DOUBLE) AS hhi6",
    "CAST(round(CAST(theil AS DOUBLE) / 1000000.0, 6) AS DOUBLE) AS theil_t6",
    # Atkinson(eps=0.5) = 1 - (mean sqrt x)^2 / mean x, from exact sums
    "CAST(round(1.0 - (CAST(sq AS DOUBLE) / 1000000.0 / CAST(ns AS DOUBLE))"
    " * (CAST(sq AS DOUBLE) / 1000000.0 / CAST(ns AS DOUBLE))"
    " / nullif(CAST(tot AS DOUBLE) / CAST(ns AS DOUBLE), 0.0), 6) AS DOUBLE)"
    " AS atkinson_half6",
]


@gate(
    "concentration_indices",
    oracle=f"""
    WITH per_s AS (
      SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount))
                           AS BIGINT)) AS BIGINT) AS rev
      FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS ns, CAST(sum(rev) AS BIGINT) AS tot
      FROM per_s
    ),
    terms AS (
      SELECT {", ".join(_CONC_TERMS)}
      FROM per_s CROSS JOIN tot
    ),
    agg AS (
      SELECT (SELECT ns FROM tot) AS ns, (SELECT tot FROM tot) AS tot,
             CAST(sum(hhi_nano) AS BIGINT) AS hhi,
             CAST(sum(theil_micro) AS BIGINT) AS theil,
             CAST(sum(sq_micro) AS BIGINT) AS sq
      FROM terms
    )
    SELECT {", ".join(_CONC_OUT)} FROM agg
    """,
)
def q_concentration_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-revenue concentration in one pass: Herfindahl-Hirschman
    index (sum of squared shares), Theil T entropy index (share-weighted
    ln of share-to-mean), and Atkinson inequality at eps=0.5 — the
    diagnostics a corpus-mixing pipeline reports alongside
    gate:gini_grouped_revenue when deciding source weights (HHI for
    dominance, Theil for decomposable between/within-source inequality,
    Atkinson for a welfare-weighted view).

    Exactness: per-supplier revenue is an exact whole-dollar BIGINT; each
    index's per-supplier fractional term (share^2, share*ln, sqrt) is
    nano/micro-quantized before its BIGINT sum, so partition order cannot
    move any index; divisions and the three closing formulas are shared
    SQL.  Scale: one groupBy(suppkey) + a broadcast 1-row total; the
    reduce is row-proportional with a bounded output."""
    li = load_table(spark, sf_dir, "lineitem")
    per_s = li.groupBy("l_suppkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "long"
            )
        )
        .cast("long")
        .alias("rev")
    )
    tot = per_s.agg(
        F.count("*").cast("long").alias("ns"),
        F.sum("rev").cast("long").alias("tot"),
    )
    terms = per_s.crossJoin(F.broadcast(tot)).selectExpr(*_CONC_TERMS)
    agg = (
        terms.agg(
            F.sum("hhi_nano").cast("long").alias("hhi"),
            F.sum("theil_micro").cast("long").alias("theil"),
            F.sum("sq_micro").cast("long").alias("sq"),
        )
        .crossJoin(F.broadcast(tot))
        .select("ns", "tot", "hhi", "theil", "sq")
    )
    return agg.selectExpr(*_CONC_OUT)


# ---------------------------------------------------------------------------
# ERR@10 + RBP(0.8) over the IVF-shortlisted retrieval top-k
# ---------------------------------------------------------------------------

# ERR with binary relevance mapped to R = 0.5: the rank-r term is
# rel_r * (1/r) * 0.5^(cum_r)  (cum includes row r, absorbing the 0.5*R
# product) — tabulated as integer micro-units over (rnk, cum)
_ERR_TAB = {
    (r, c): int(math.floor(1_000_000.0 * (0.5 ** c) / r + 0.5))
    for r in range(1, RANK_K + 1)
    for c in range(1, r + 1)
}
_ERR_CASE = (
    "CASE WHEN rel = 1 THEN (CASE rnk "
    + " ".join(
        f"WHEN {r} THEN (CASE cum "
        + " ".join(
            f"WHEN {c} THEN {_ERR_TAB[(r, c)]}" for c in range(1, r + 1)
        )
        + " ELSE 0 END)"
        for r in range(1, RANK_K + 1)
    )
    + " ELSE 0 END) ELSE 0 END"
)

_RBP_P = 0.8
_RBP_W = [
    int(math.floor(1_000_000.0 * (1.0 - _RBP_P) * _RBP_P ** (r - 1) + 0.5))
    for r in range(1, RANK_K + 1)
]
_RBP_CASE = (
    "rel * (CASE rnk "
    + " ".join(f"WHEN {r} THEN {w}" for r, w in enumerate(_RBP_W, start=1))
    + " ELSE 0 END)"
)

_ERR_OUT = [
    "qid",
    "CAST(round(CAST(err_u AS DOUBLE) / 1000000.0, 6) AS DOUBLE) AS err6",
    "CAST(round(CAST(rbp_u AS DOUBLE) / 1000000.0, 6) AS DOUBLE) AS rbp6",
]


@gate(
    "err_rbp_retrieval",
    oracle=f"""
    WITH {_RANKIVF_TOP_CTES},
    m AS (
      SELECT qid,
             CAST(SUM({_ERR_CASE}) AS BIGINT) AS err_u,
             CAST(SUM({_RBP_CASE}) AS BIGINT) AS rbp_u
      FROM top GROUP BY qid
    )
    SELECT {", ".join(_ERR_OUT)} FROM m ORDER BY qid
    """,
)
def q_err_rbp_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Reciprocal Rank @10 (cascade user model; binary relevance
    at R=0.5, so each earlier relevant hit halves the continue
    probability) and Rank-Biased Precision (persistence p=0.8) per query,
    over the SAME LSH-shortlisted top-10 as gate:ranking_eval_shortlist —
    the position-bias-aware companions to NDCG/MAP (which assume the
    user inspects all k).  Both metrics are literal integer micro-unit
    tables over (rank, cumulative-relevant), so the per-query sums are
    exact BIGINTs; the shortlist plan is the scale path (probed-bucket
    equi-join, nothing quadratic)."""
    qs, cs = rankivf_split(spark, sf_dir)
    pairs = lsh_shortlist_pairs(
        F.broadcast(qs), cs, RANK_PLANES, n_probe=N_PROBE
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos6"), F.asc("cid"))
    wc = (
        Window.partitionBy("qid")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    top = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= RANK_K)
        .withColumn("cum", F.sum("rel").over(wc))
    )
    m = top.groupBy("qid").agg(
        F.expr(f"CAST(SUM({_ERR_CASE}) AS BIGINT)").alias("err_u"),
        F.expr(f"CAST(SUM({_RBP_CASE}) AS BIGINT)").alias("rbp_u"),
    )
    return m.selectExpr(*_ERR_OUT)


# ---------------------------------------------------------------------------
# Box-Cox transform selection by profile log-likelihood on a literal grid
# ---------------------------------------------------------------------------

_BC_LAMBDAS = [-1.0, -0.5, 0.0, 0.5, 1.0]
# kilodollar prices: exact cents -> /1e5, identical expression both sides
_XK = "(CAST(round(l_extendedprice * 100) AS BIGINT) / 100000.0)"


def _bc_z(lam: float) -> str:
    if lam == 0.0:
        return f"ln({_XK})"
    return f"((pow({_XK}, {lam!r}) - 1.0) / {lam!r})"


_BC_SUMS = ", ".join(
    f"CAST(sum(CAST(round({_bc_z(lam)} * 1000000.0) AS BIGINT)) AS BIGINT)"
    f" AS s{i}, "
    f"CAST(sum(CAST(round({_bc_z(lam)} * {_bc_z(lam)} * 1000000.0) AS BIGINT))"
    f" AS BIGINT) AS q{i}"
    for i, lam in enumerate(_BC_LAMBDAS)
)
_BC_AGG = (
    f"CAST(count(*) AS BIGINT) AS n, "
    f"CAST(sum(CAST(round(ln({_XK}) * 1000000.0) AS BIGINT)) AS BIGINT)"
    f" AS slx, {_BC_SUMS}"
)


def _bc_ll(i: int, lam: float) -> str:
    """profile LL(lam) = -(n/2) ln(sigma2_mle(z)) + (lam-1) sum ln x,
    from the micro-quantized sums — one shared string per lambda."""
    s = f"(CAST(s{i} AS DOUBLE) / 1000000.0)"
    q = f"(CAST(q{i} AS DOUBLE) / 1000000.0)"
    var = f"(({q} - {s} * {s} / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
    return (
        f"CAST(round(-0.5 * CAST(n AS DOUBLE) * ln({var})"
        f" + ({lam!r} - 1.0) * (CAST(slx AS DOUBLE) / 1000000.0), 6)"
        " AS DOUBLE)"
    )


_BC_ROWS_SQL = " UNION ALL ".join(
    f"SELECT CAST({lam!r} AS DOUBLE) AS lam, {_bc_ll(i, lam)} AS ll6 FROM agg"
    for i, lam in enumerate(_BC_LAMBDAS)
)
_BC_INLINE = (
    "inline(array("
    + ", ".join(
        f"struct(CAST({lam!r} AS DOUBLE) AS lam, {_bc_ll(i, lam)} AS ll6)"
        for i, lam in enumerate(_BC_LAMBDAS)
    )
    + "))"
)


@gate(
    "boxcox_loglik_grid",
    oracle=f"""
    WITH agg AS (SELECT {_BC_AGG} FROM lineitem)
    {_BC_ROWS_SQL}
    ORDER BY lam
    """,
)
def q_boxcox_loglik_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-Cox power-transform selection for extended price: the profile
    log-likelihood LL(lambda) = -(n/2) ln(sigma2_mle(z_lambda)) +
    (lambda-1) sum(ln x) on the literal grid {{-1, -1/2, 0, 1/2, 1}} —
    the principled version of the log-vs-raw choice gates like
    index_score_rmsle hard-code, and the transform step robust_scale's
    pipeline would run first.  Prices are held in KILOdollars (the 6dp
    discipline) so every z is O(100).

    Exactness: all eleven moments (n, sum ln x, and per-lambda sum z /
    sum z^2) come from ONE aggregation pass with per-row micro-quantized
    terms — order-independent BIGINT sums; each LL is a shared SQL string
    over those sums.  Scale: one map-side-combinable scan; output is 5
    rows."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.selectExpr("l_extendedprice").agg(
        *[F.expr(e) for e in _split_agg_exprs()]
    )
    return agg.selectExpr(_BC_INLINE)


def _split_agg_exprs() -> list[str]:
    """the _BC_AGG aggregate list as separate expressions (Spark's agg()
    takes Columns; the string is built once and shared with the oracle)."""
    parts: list[str] = []
    depth = 0
    cur = ""
    for ch in _BC_AGG:
        if ch == "," and depth == 0:
            parts.append(cur.strip())
            cur = ""
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        cur += ch
    if cur.strip():
        parts.append(cur.strip())
    return parts
