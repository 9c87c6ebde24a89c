"""Round-8 gate queries, batch 1.

Contents (the COVERAGE.md round-8 backlog, evaluation/monitoring half):

- cronbach_alpha        — internal-consistency reliability over three
                          per-order "item" measurements
- kendall_w_concordance — agreement among three nation rankings
- rouge_n_halves        — per-doc ROUGE-1/2 P/R/F of first-vs-second
                          document halves (recall twin of BLEU)
- hosmer_lemeshow_fixedbins — calibration chi^2 over probability bins
- cusum_control_chart   — two-sided CUSUM over weekly revenue via the
                          prefix-sum-minus-running-min identity
- holt_linear_forecast  — Holt double exponential smoothing folded as
                          one aggregate HOF (alpha = beta = 1/2)

Cross-engine determinism follows the house cookbook (gate.py module
docstring): exact BIGINT count/sum aggregates everywhere, shared SQL
strings for every transcendental/divide so the IEEE op order is
identical on Spark and DuckDB, 6dp rounds on both sides, integer
tie-breaks, and per-bin terms micro-quantized before summation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions import text as TXT
from inferdb_spark.gate import gate
from inferdb_spark.gate_r7i import _spark_grams, _duck_grams

# ---------------------------------------------------------------------------
# Cronbach's alpha: internal consistency of k = 3 order-size "items"
# ---------------------------------------------------------------------------

# item variances, pairwise correlations, and both alphas from the 11
# exact BIGINT moments, in shared written-order double formulas (the
# two-proportion-z-test discipline)
def _m(a: str, b: str) -> str:
    """centered cross-moment n*Sxy - Sx*Sy as a written-order double."""
    c = f"q{a[1]}" if a == b else f"c{a[1]}{b[1]}"
    return (
        f"(CAST(n AS DOUBLE) * CAST({c} AS DOUBLE)"
        f" - CAST(s{a[1]} AS DOUBLE) * CAST(s{b[1]} AS DOUBLE))"
    )


def _r(a: str, b: str) -> str:
    # nullif: a zero-variance item makes r undefined — NULL, not a raise
    return f"({_m(a, b)} / nullif(sqrt({_m(a, a)} * {_m(b, b)}), 0.0))"


_CRON_NUM_I = f"({_m('i1', 'i1')} + {_m('i2', 'i2')} + {_m('i3', 'i3')})"
_CRON_NUM_T = (
    "(CAST(n AS DOUBLE) * CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))"
)
_CRON_INNER = [
    "n",
    "s1",
    "s2",
    "s3",
    "st",
    f"CAST(round({_m('i1', 'i1')} / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)"
    " AS DOUBLE) AS var1_6",
    f"CAST(round({_m('i2', 'i2')} / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)"
    " AS DOUBLE) AS var2_6",
    f"CAST(round({_m('i3', 'i3')} / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)"
    " AS DOUBLE) AS var3_6",
    f"CAST(round({_CRON_NUM_T} / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS DOUBLE)"
    " AS var_tot6",
    f"CAST(round(1.5 * (1.0 - {_CRON_NUM_I} / nullif({_CRON_NUM_T}, 0.0)), 6) AS DOUBLE)"
    " AS alpha_raw6",
    f"CAST(round({_r('i1', 'i2')}, 6) AS DOUBLE) AS r12_6",
    f"CAST(round({_r('i1', 'i3')}, 6) AS DOUBLE) AS r13_6",
    f"CAST(round({_r('i2', 'i3')}, 6) AS DOUBLE) AS r23_6",
]
# standardized alpha from the ROUNDED correlations, so the second level
# consumes bit-identical inputs on both engines
_CRON_OUTER = [
    "n", "s1", "s2", "s3", "st",
    "var1_6", "var2_6", "var3_6", "var_tot6", "alpha_raw6",
    "r12_6", "r13_6", "r23_6",
    "CAST(round(3.0 * ((r12_6 + r13_6 + r23_6) / 3.0)"
    " / nullif(1.0 + 2.0 * ((r12_6 + r13_6 + r23_6) / 3.0), 0.0), 6) AS DOUBLE)"
    " AS alpha_std6",
]


@gate(
    "cronbach_alpha",
    oracle=f"""
    WITH items AS (
      SELECT l_orderkey,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS i1,
             CAST(count(*) AS BIGINT) AS i2,
             CAST(sum(CAST(round(l_extendedprice / 100.0) AS BIGINT)) AS BIGINT) AS i3
      FROM lineitem GROUP BY l_orderkey
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(i1) AS BIGINT) AS s1, CAST(sum(i1 * i1) AS BIGINT) AS q1,
             CAST(sum(i2) AS BIGINT) AS s2, CAST(sum(i2 * i2) AS BIGINT) AS q2,
             CAST(sum(i3) AS BIGINT) AS s3, CAST(sum(i3 * i3) AS BIGINT) AS q3,
             CAST(sum(i1 * i2) AS BIGINT) AS c12,
             CAST(sum(i1 * i3) AS BIGINT) AS c13,
             CAST(sum(i2 * i3) AS BIGINT) AS c23,
             CAST(sum(i1 + i2 + i3) AS BIGINT) AS st,
             CAST(sum((i1 + i2 + i3) * (i1 + i2 + i3)) AS BIGINT) AS qt
      FROM items
    ),
    inner_sel AS (
      SELECT {', '.join(_CRON_INNER)} FROM mom
    )
    SELECT {', '.join(_CRON_OUTER)} FROM inner_sel
    """,
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over three per-order "items" that all measure
    order size (summed quantity, line count, summed hundred-dollar
    price) — the psychometric internal-consistency check, used in data
    pipelines to validate that a battery of quality sub-scores can be
    averaged into one composite score.  Emits BOTH forms: raw-score
    alpha k/(k-1) * (1 - sum_i var_i / var_total) (scale-SENSITIVE —
    low here, because the dollar item's variance dwarfs the others) and
    standardized alpha 3*rbar/(1+2*rbar) from the mean pairwise Pearson
    correlation (scale-invariant — ~0.93: the items do co-measure one
    construct).  Reporting both is the diagnostic: a large gap says
    "consistent items on incommensurate scales, standardize before
    averaging".

    Exactness: items are per-line-quantized BIGINTs, the 11 moments
    (three of them cross-products) are exact integer sums (q_t <= ~9e14
    at sf10 — safe to ~sf1000), the n*q - s^2 centered moments run in
    written-order doubles via shared SQL strings (they exceed BIGINT at
    sf10, and both engines execute the identical IEEE sequence — the
    two_proportion_z discipline), and standardized alpha is computed
    from the 6dp-ROUNDED correlations so its inputs are bit-identical
    cross-engine.  Scale: one map-side-combinable groupBy(orderkey) +
    one 1-row moment aggregate; no joins, no windows."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.groupBy("l_orderkey").agg(
        F.sum(F.round(F.col("l_quantity")).cast("long")).cast("long").alias("i1"),
        F.count("*").cast("long").alias("i2"),
        F.sum(F.round(F.col("l_extendedprice") / F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("i3"),
    )
    mom = items.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("i1").cast("long").alias("s1"),
        F.sum(F.col("i1") * F.col("i1")).cast("long").alias("q1"),
        F.sum("i2").cast("long").alias("s2"),
        F.sum(F.col("i2") * F.col("i2")).cast("long").alias("q2"),
        F.sum("i3").cast("long").alias("s3"),
        F.sum(F.col("i3") * F.col("i3")).cast("long").alias("q3"),
        F.sum(F.col("i1") * F.col("i2")).cast("long").alias("c12"),
        F.sum(F.col("i1") * F.col("i3")).cast("long").alias("c13"),
        F.sum(F.col("i2") * F.col("i3")).cast("long").alias("c23"),
        F.sum(F.col("i1") + F.col("i2") + F.col("i3")).cast("long").alias("st"),
        F.sum(
            (F.col("i1") + F.col("i2") + F.col("i3"))
            * (F.col("i1") + F.col("i2") + F.col("i3"))
        )
        .cast("long")
        .alias("qt"),
    )
    return mom.selectExpr(*_CRON_INNER).selectExpr(*_CRON_OUTER)


# ---------------------------------------------------------------------------
# Kendall's W: concordance among three nation rankings
# ---------------------------------------------------------------------------

_KW_M = 3  # rankers


@gate(
    "kendall_w_concordance",
    oracle=f"""
    WITH agg AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_c,
             CAST(count(*) AS BIGINT) AS n_cust,
             CAST(max(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS max_c
      FROM customer GROUP BY c_nationkey
    ),
    ranked AS (
      SELECT nationkey,
             CAST(row_number() OVER (ORDER BY bal_c, nationkey) AS BIGINT) AS r1,
             CAST(row_number() OVER (ORDER BY n_cust, nationkey) AS BIGINT) AS r2,
             CAST(row_number() OVER (ORDER BY max_c, nationkey) AS BIGINT) AS r3
      FROM agg
    ),
    sized AS (
      SELECT nationkey, r1, r2, r3,
             CAST(r1 + r2 + r3 AS BIGINT) AS rank_sum,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM ranked
    ),
    dev AS (
      SELECT nationkey, r1, r2, r3, rank_sum, n,
             CAST(sum((2 * rank_sum - {_KW_M} * (n + 1))
                      * (2 * rank_sum - {_KW_M} * (n + 1))) OVER () AS BIGINT) AS d2
      FROM sized
    )
    SELECT nationkey, r1, r2, r3, rank_sum,
           CAST(round(CAST(d2 AS DOUBLE)
                / (3.0 * CAST(n * n * n - n AS DOUBLE)), 6) AS DOUBLE) AS kendall_w
    FROM dev ORDER BY nationkey
    """,
)
def q_kendall_w_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W among m = 3 rankings of the
    nations (by total customer balance, customer count, and max balance,
    each tie-broken by nationkey so every ranking is a total order):
    W = sum_i (2*R_i - m(n+1))^2 / (3 * m^2/3...) — written with the
    doubled deviations so every intermediate is an exact BIGINT; the
    single division happens in a shared SQL string.  W near 1 means the
    rankers agree (here they all proxy nation size, so W is high).

    Scale: ranking runs over the GROUPED relation (one row per nation —
    domain-bounded), so the unpartitioned row_number windows sort ~25
    rows regardless of customer count; the only full-data pass is the
    map-side-combinable groupBy(nationkey)."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    agg = cust.groupBy(F.col("c_nationkey").cast("long").alias("nationkey")).agg(
        F.sum(cents).cast("long").alias("bal_c"),
        F.count("*").cast("long").alias("n_cust"),
        F.max(cents).cast("long").alias("max_c"),
    )
    ranked = agg.select(
        "nationkey",
        F.row_number().over(Window.orderBy("bal_c", "nationkey")).cast("long").alias("r1"),
        F.row_number().over(Window.orderBy("n_cust", "nationkey")).cast("long").alias("r2"),
        F.row_number().over(Window.orderBy("max_c", "nationkey")).cast("long").alias("r3"),
    )
    w_all = Window.partitionBy()
    sized = ranked.select(
        "nationkey",
        "r1",
        "r2",
        "r3",
        (F.col("r1") + F.col("r2") + F.col("r3")).cast("long").alias("rank_sum"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    dd = F.lit(2) * F.col("rank_sum") - F.lit(_KW_M) * (F.col("n") + F.lit(1))
    dev = sized.select(
        "nationkey",
        "r1",
        "r2",
        "r3",
        "rank_sum",
        "n",
        F.sum(dd * dd).over(w_all).cast("long").alias("d2"),
    )
    return dev.selectExpr(
        "nationkey",
        "r1",
        "r2",
        "r3",
        "rank_sum",
        "CAST(round(CAST(d2 AS DOUBLE) / (3.0 * CAST(n * n * n - n AS DOUBLE)), 6)"
        " AS DOUBLE) AS kendall_w",
    ).orderBy("nationkey")


# ---------------------------------------------------------------------------
# ROUGE-1/2 of first vs second document halves (per-doc P/R/F)
# ---------------------------------------------------------------------------

_ROUGE_OUT = [
    "doc_id",
    "ov1", "cand1", "ref1", "ov2", "cand2", "ref2",
    "CASE WHEN cand1 = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(round(CAST(ov1 AS DOUBLE) / cand1, 6) AS DOUBLE) END AS rouge1_p",
    "CASE WHEN ref1 = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(round(CAST(ov1 AS DOUBLE) / ref1, 6) AS DOUBLE) END AS rouge1_r",
    "CASE WHEN cand1 + ref1 = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(round(2.0 * CAST(ov1 AS DOUBLE) / (cand1 + ref1), 6) AS DOUBLE) END AS rouge1_f",
    "CASE WHEN cand2 = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(round(CAST(ov2 AS DOUBLE) / cand2, 6) AS DOUBLE) END AS rouge2_p",
    "CASE WHEN ref2 = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(round(CAST(ov2 AS DOUBLE) / ref2, 6) AS DOUBLE) END AS rouge2_r",
    "CASE WHEN cand2 + ref2 = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(round(2.0 * CAST(ov2 AS DOUBLE) / (cand2 + ref2), 6) AS DOUBLE) END AS rouge2_f",
]


@gate(
    "rouge_n_halves",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {TXT.duckdb_tokens('text')} AS t FROM documents
    ),
    halves AS (
      SELECT doc_id,
             list_slice(t, 1, len(t) // 2) AS cand,
             list_slice(t, len(t) // 2 + 1, len(t)) AS ref
      FROM tok
    ),
    cand_g AS (
      SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c_cand FROM (
        SELECT doc_id, 1 AS n, unnest({_duck_grams("cand", 1)}) AS g FROM halves
        UNION ALL
        SELECT doc_id, 2 AS n, unnest({_duck_grams("cand", 2)}) AS g FROM halves
      ) GROUP BY doc_id, n, g
    ),
    ref_g AS (
      SELECT doc_id, n, g, CAST(count(*) AS BIGINT) AS c_ref FROM (
        SELECT doc_id, 1 AS n, unnest({_duck_grams("ref", 1)}) AS g FROM halves
        UNION ALL
        SELECT doc_id, 2 AS n, unnest({_duck_grams("ref", 2)}) AS g FROM halves
      ) GROUP BY doc_id, n, g
    ),
    cstat AS (
      SELECT cand_g.doc_id, cand_g.n,
             CAST(sum(least(c_cand, coalesce(c_ref, 0))) AS BIGINT) AS ov,
             CAST(sum(c_cand) AS BIGINT) AS c_cnt
      FROM cand_g LEFT JOIN ref_g
        ON cand_g.doc_id = ref_g.doc_id AND cand_g.n = ref_g.n
           AND cand_g.g = ref_g.g
      GROUP BY cand_g.doc_id, cand_g.n
    ),
    rstat AS (
      SELECT doc_id, n, CAST(sum(c_ref) AS BIGINT) AS r_cnt
      FROM ref_g GROUP BY doc_id, n
    ),
    joined AS (
      SELECT coalesce(c.doc_id, r.doc_id) AS doc_id,
             coalesce(c.n, r.n) AS n,
             coalesce(c.ov, 0) AS ov,
             coalesce(c.c_cnt, 0) AS c_cnt,
             coalesce(r.r_cnt, 0) AS r_cnt
      FROM cstat c FULL JOIN rstat r
        ON c.doc_id = r.doc_id AND c.n = r.n
    ),
    pivoted AS (
      SELECT d.doc_id,
        CAST(coalesce(max(CASE WHEN j.n = 1 THEN j.ov END), 0) AS BIGINT) AS ov1,
        CAST(coalesce(max(CASE WHEN j.n = 1 THEN j.c_cnt END), 0) AS BIGINT) AS cand1,
        CAST(coalesce(max(CASE WHEN j.n = 1 THEN j.r_cnt END), 0) AS BIGINT) AS ref1,
        CAST(coalesce(max(CASE WHEN j.n = 2 THEN j.ov END), 0) AS BIGINT) AS ov2,
        CAST(coalesce(max(CASE WHEN j.n = 2 THEN j.c_cnt END), 0) AS BIGINT) AS cand2,
        CAST(coalesce(max(CASE WHEN j.n = 2 THEN j.r_cnt END), 0) AS BIGINT) AS ref2
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN joined j ON d.doc_id = j.doc_id
      GROUP BY d.doc_id
    )
    SELECT {', '.join(_ROUGE_OUT)} FROM pivoted ORDER BY doc_id
    """,
)
def q_rouge_n_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ROUGE-1/ROUGE-2 precision, recall, and F1 of the
    first token-half (candidate) against the second half (reference) —
    the recall-oriented summarization-eval twin of gate:bleu_self_halves
    (same clipped n-gram overlap machinery, reported per document so the
    hash covers the whole corpus, and F1 simplifies exactly to
    2*overlap/(cand+ref) — one division per score).

    Exactness: counts are BIGINTs end to end; degenerate halves (docs
    too short for grams) emit explicit zeros via the doc-list left join.
    Scale: keys on (doc_id, gram) throughout — embarrassingly parallel,
    no global relation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(TXT.tokens_sql("`text`")).alias("t"))
    halves = toks.select(
        "doc_id",
        F.expr("slice(t, 1, size(t) div 2)").alias("cand"),
        F.expr("slice(t, size(t) div 2 + 1, size(t) - size(t) div 2)").alias("ref"),
    ).persist()

    from inferdb_spark.gate_r7i import gram_overlap_stats

    # ONE tagged grouped explode (shared with bleu_self_halves) replaces
    # the former cand-vs-ref fact-fact join AND the cstat/rstat full
    # outer join: grams on only one side contribute exact zeros already
    joined = gram_overlap_stats(spark, sf_dir, halves)
    pivoted = (
        docs.select("doc_id")
        .distinct()
        .join(joined, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.max(F.when(F.col("n") == 1, F.col("ov"))), F.lit(0))
            .cast("long")
            .alias("ov1"),
            F.coalesce(F.max(F.when(F.col("n") == 1, F.col("c_cnt"))), F.lit(0))
            .cast("long")
            .alias("cand1"),
            F.coalesce(F.max(F.when(F.col("n") == 1, F.col("r_cnt"))), F.lit(0))
            .cast("long")
            .alias("ref1"),
            F.coalesce(F.max(F.when(F.col("n") == 2, F.col("ov"))), F.lit(0))
            .cast("long")
            .alias("ov2"),
            F.coalesce(F.max(F.when(F.col("n") == 2, F.col("c_cnt"))), F.lit(0))
            .cast("long")
            .alias("cand2"),
            F.coalesce(F.max(F.when(F.col("n") == 2, F.col("r_cnt"))), F.lit(0))
            .cast("long")
            .alias("ref2"),
        )
    )
    # no driver-side collect: per-doc rows stay distributed (a 5M-row
    # collect at sf10 was a scale defect); the persisted halves relation
    # is released by the @gate cache-hygiene wrapper at the next build
    return pivoted.selectExpr(*_ROUGE_OUT).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Hosmer-Lemeshow calibration chi^2 over fixed probability bins
# ---------------------------------------------------------------------------

# a second deliberately miscalibrated scorer (distinct from ECE's so the
# two calibration audits don't share literals)
_HL_B0, _HL_BQ, _HL_BD = -0.8, 0.04, 6.0

_HL_TERM = (
    "CASE WHEN e1_u = 0 OR e1_u = n_b * 1000000 THEN CAST(0 AS BIGINT) ELSE "
    "CAST(round(((CAST(n_b AS DOUBLE) * (CAST(o1 * 1000000 - e1_u AS DOUBLE)"
    " * CAST(o1 * 1000000 - e1_u AS DOUBLE)))"
    " / (CAST(e1_u AS DOUBLE) * CAST(n_b * 1000000 - e1_u AS DOUBLE)))"
    " * 1000000.0) AS BIGINT) END"
)


@gate(
    "hosmer_lemeshow_fixedbins",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(floor((1.0 / (1.0 + exp(-(({_HL_B0!r} + ({_HL_BQ!r} * l_quantity))
                     + ({_HL_BD!r} * l_discount))))) * 1000000.0 + 0.5)
               AS BIGINT) AS p_u,
             (CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS y
      FROM lineitem
    ),
    binned AS (
      SELECT least(CAST(p_u // 100000 AS BIGINT), 9) AS bin,
             CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(y) AS BIGINT) AS o1,
             CAST(sum(CAST(p_u AS BIGINT)) AS BIGINT) AS e1_u
      FROM scored GROUP BY 1
    ),
    terms AS (
      SELECT bin, n_b, o1, e1_u, {_HL_TERM} AS term_u FROM binned
    )
    SELECT bin, n_b, o1,
           CAST(round(CAST(e1_u AS DOUBLE) / 1000000.0, 6) AS DOUBLE) AS e1_6,
           CAST(round(CAST(term_u AS DOUBLE) / 1000000.0, 6) AS DOUBLE) AS term6,
           CAST(round(CAST(sum(term_u) OVER () AS DOUBLE) / 1000000.0, 6)
                AS DOUBLE) AS hl_chi2,
           CAST(count(*) OVER () - 2 AS BIGINT) AS df
    FROM terms ORDER BY bin
    """,
)
def q_hosmer_lemeshow_fixedbins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit chi^2 for a fixed logistic scorer
    against the returnflag outcome, over 10 EQUAL-WIDTH probability bins
    (the fixed-bin variant; the deciles-of-risk variant is the
    gate:decile_lift_table machinery): per bin
    (O1 - E1)^2 * n_b / (E1 * (n_b - E1)), summed.  Complements
    gate:ece_reliability — ECE reports the average calibration gap, HL
    tests whether the gaps are jointly significant.

    Exactness: probabilities snap to integer micro-units so O1*1e6-E1_u
    is an exact BIGINT; each bin's term runs in written-order doubles in
    ONE shared SQL string, is micro-quantized to a BIGINT, and the 10-row
    window sums integers (order-independent).  Degenerate bins (E1 = 0
    or E1 = n_b) contribute an explicit 0.  Scale: one scan + one 10-row
    aggregate, no joins."""
    li = load_table(spark, sf_dir, "lineitem")
    margin = (
        F.lit(_HL_B0) + (F.lit(_HL_BQ) * F.col("l_quantity"))
    ) + (F.lit(_HL_BD) * F.col("l_discount"))
    p_u = F.floor(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))) * F.lit(1_000_000.0)
        + F.lit(0.5)
    )
    scored = li.select(
        p_u.alias("p_u"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    binned = scored.groupBy(
        F.least(F.expr("CAST(p_u div 100000 AS BIGINT)"), F.lit(9)).alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n_b"),
        F.sum("y").cast("long").alias("o1"),
        F.sum(F.col("p_u").cast("long")).cast("long").alias("e1_u"),
    )
    terms = binned.selectExpr("bin", "n_b", "o1", "e1_u", f"{_HL_TERM} AS term_u")
    w = Window.partitionBy()
    return terms.select(
        "bin",
        "n_b",
        "o1",
        F.round(F.col("e1_u").cast("double") / F.lit(1_000_000.0), 6)
        .cast("double")
        .alias("e1_6"),
        F.round(F.col("term_u").cast("double") / F.lit(1_000_000.0), 6)
        .cast("double")
        .alias("term6"),
        F.round(
            F.sum("term_u").over(w).cast("double") / F.lit(1_000_000.0), 6
        )
        .cast("double")
        .alias("hl_chi2"),
        (F.count("*").over(w) - F.lit(2)).cast("long").alias("df"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# Two-sided CUSUM control chart over weekly revenue
# ---------------------------------------------------------------------------
# The one-sided CUSUM recursion C_t = max(0, C_{t-1} + d_t) is NOT a
# prefix sum, but it has the exact closed form
#     C_t = P_t - min(0, min_{i<=t} P_i),   P_t = sum_{j<=t} d_j
# so it runs as TWO stacked windows over the (domain-bounded) weekly
# relation instead of a sequential loop.  Deviations are pre-scaled by
# 20*W so the reference slack k = mu/20 stays integral:
#     hi side: d_w = 20*W*x_w - 21*S      (x_w - mu - mu/20, times 20W)
#     lo side: e_w = 19*S - 20*W*x_w      (mu - mu/20 - x_w, times 20W)
# and the decision interval h = mu/2 becomes the integer 10*S.

_CUSUM_OUT = [
    "wk",
    "dollars",
    "c_hi",
    "c_lo",
    "CAST(round(CAST(c_hi AS DOUBLE) / (20.0 * CAST(wcnt AS DOUBLE)), 6)"
    " AS DOUBLE) AS cusum_hi6",
    "CAST(round(CAST(c_lo AS DOUBLE) / (20.0 * CAST(wcnt AS DOUBLE)), 6)"
    " AS DOUBLE) AS cusum_lo6",
    "CAST(CASE WHEN c_hi > 10 * s THEN 1 ELSE 0 END AS BIGINT) AS flag_hi",
    "CAST(CASE WHEN c_lo > 10 * s THEN 1 ELSE 0 END AS BIGINT) AS flag_lo",
]


@gate(
    "cusum_control_chart",
    oracle=f"""
    WITH weekly AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) // 7 AS BIGINT) AS wk,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS dollars
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(dollars) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS wcnt
      FROM weekly
    ),
    pre AS (
      SELECT wk, dollars, s, wcnt,
             CAST(sum(20 * wcnt * dollars - 21 * s)
                  OVER (ORDER BY wk) AS BIGINT) AS p_hi,
             CAST(sum(19 * s - 20 * wcnt * dollars)
                  OVER (ORDER BY wk) AS BIGINT) AS p_lo
      FROM weekly CROSS JOIN tot
    ),
    cus AS (
      SELECT wk, dollars, s, wcnt,
             CAST(p_hi - least(CAST(0 AS BIGINT),
               min(p_hi) OVER (ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)) AS BIGINT) AS c_hi,
             CAST(p_lo - least(CAST(0 AS BIGINT),
               min(p_lo) OVER (ORDER BY wk ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)) AS BIGINT) AS c_lo
      FROM pre
    )
    SELECT {', '.join(_CUSUM_OUT)} FROM cus ORDER BY wk
    """,
)
def q_cusum_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM control chart over weekly revenue: cumulative-sum
    monitors for upward and downward mean shifts with reference slack
    k = mu/20 and decision interval h = mu/2 — the sequential-shift
    companion to gate:xbar_control_chart (X-bar flags single outlying
    subgroups; CUSUM accumulates small persistent drifts).

    The sequential max(0, C+d) recursion is replaced by its exact
    prefix-sum-minus-running-min closed form (module comment), so the
    whole chart is two stacked windows over the ~365-row weekly relation
    — never a sequential driver loop.  All state is exact BIGINT in
    20*W-scaled dollar units (|P| <= 20*W*S ~ 1.6e16 at sf10 — safe
    through sf1000); flags compare integers, so the h boundary cannot
    flip between engines; the only doubles are the 6dp-normalized
    display columns from ONE shared SQL string."""
    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.selectExpr(
        "CAST(datediff(o_orderdate, DATE '1970-01-01') div 7 AS BIGINT) AS wk",
        "CAST(round(o_totalprice) AS BIGINT) AS d",
    ).groupBy("wk").agg(F.sum("d").cast("long").alias("dollars"))
    tot = weekly.agg(
        F.sum("dollars").cast("long").alias("s"),
        F.count("*").cast("long").alias("wcnt"),
    )
    w_ord = Window.orderBy("wk")
    w_run = Window.orderBy("wk").rowsBetween(Window.unboundedPreceding, 0)
    pre = weekly.crossJoin(F.broadcast(tot)).select(
        "wk",
        "dollars",
        "s",
        "wcnt",
        F.sum(
            F.lit(20) * F.col("wcnt") * F.col("dollars") - F.lit(21) * F.col("s")
        )
        .over(w_ord)
        .cast("long")
        .alias("p_hi"),
        F.sum(
            F.lit(19) * F.col("s") - F.lit(20) * F.col("wcnt") * F.col("dollars")
        )
        .over(w_ord)
        .cast("long")
        .alias("p_lo"),
    )
    cus = pre.select(
        "wk",
        "dollars",
        "s",
        "wcnt",
        (F.col("p_hi") - F.least(F.lit(0).cast("long"), F.min("p_hi").over(w_run)))
        .cast("long")
        .alias("c_hi"),
        (F.col("p_lo") - F.least(F.lit(0).cast("long"), F.min("p_lo").over(w_run)))
        .cast("long")
        .alias("c_lo"),
    )
    return cus.selectExpr(*_CUSUM_OUT).orderBy("wk")


# ---------------------------------------------------------------------------
# Holt linear-trend double exponential smoothing (alpha = beta = 1/2)
# ---------------------------------------------------------------------------
# Recursion (init l_1 = x_1, b_1 = x_2 - x_1; for t = 2..T):
#     l_t = 0.5*x_t + 0.5*(l_{t-1} + b_{t-1})
#     b_t = 0.5*(l_t - l_{t-1}) + 0.5*b_{t-1}
# folded as ONE aggregate HOF over the time-ordered monthly series (the
# ewma_smoothing pattern, generalized to a 2-component accumulator).
# DuckDB's list_reduce requires acc type == element type, so the oracle
# wraps each observation as a 1-element list and prepends the
# 2-element [l_1, b_1] init — both engines then execute the IDENTICAL
# written-order IEEE sequence, so results agree bit-for-bit before the
# 6dp round.

_HOLT_H = 6  # forecast horizons


@gate(
    "holt_linear_forecast",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS mkey,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
                             AS DOUBLE) / 1000.0) AS BIGINT) AS s
      FROM orders GROUP BY 1
    ),
    lists AS (
      SELECT list(CAST(s AS DOUBLE) ORDER BY mkey) AS vals,
             CAST(count(*) AS BIGINT) AS n_months
      FROM monthly
    ),
    folded AS (
      SELECT n_months,
             list_reduce(
               list_prepend([vals[1], vals[2] - vals[1]],
                 list_transform(list_slice(vals, 2, len(vals)), v -> [v])),
               (acc, x) -> [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
                            0.5 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                            + 0.5 * acc[2]]) AS lb
      FROM lists
    )
    SELECT CAST(h AS BIGINT) AS h, n_months,
           CAST(round(lb[1], 6) AS DOUBLE) AS level6,
           CAST(round(lb[2], 6) AS DOUBLE) AS trend6,
           CAST(round(lb[1] + CAST(h AS DOUBLE) * lb[2], 6) AS DOUBLE) AS forecast6
    FROM folded CROSS JOIN (SELECT unnest(range(1, {_HOLT_H + 1})) AS h)
    ORDER BY h
    """,
)
def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend,
    alpha = beta = 1/2) over the monthly revenue series, emitting the
    final state and 1..6-month-ahead forecasts l + h*b — the
    trend-aware upgrade of gate:ewma_smoothing, and the forecasting
    primitive a pipeline uses to project ingest volume.

    The coupled 2-state recursion folds as ONE aggregate HOF over the
    time-ordered value array (module comment explains the DuckDB
    1-element-list encoding that makes both engines run the identical
    IEEE op sequence; halvings of integer-KILOdollar values keep every
    step bit-stable — dollars put sf1 forecasts at ~4e9, where a 6dp
    decimal grid exceeds double precision and the engines' round()
    implementations disagree by 1 ULP).  Scale: the full-data pass is a
    map-side-combinable
    groupBy(month); the fold runs over the ~84-element month-domain
    array — series length is bounded by the DATE DOMAIN, not row count.

    Requires >= 2 months of data (the init uses x_1 and x_2)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.selectExpr(
        "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS mkey",
        "CAST(round(o_totalprice) AS BIGINT) AS d",
    ).groupBy("mkey").agg(
        F.expr("CAST(round(CAST(sum(d) AS DOUBLE) / 1000.0) AS BIGINT)").alias("s")
    )
    lists = monthly.agg(
        F.sort_array(F.collect_list(F.struct("mkey", "s"))).alias("ms"),
        F.count("*").cast("long").alias("n_months"),
    ).select(
        F.transform(F.col("ms"), lambda r: r["s"].cast("double")).alias("vals"),
        "n_months",
    )
    x1 = F.element_at(F.col("vals"), 1)
    x2 = F.element_at(F.col("vals"), 2)
    half = F.lit(0.5)

    def step(acc, x):
        l_prev, b_prev = F.element_at(acc, 1), F.element_at(acc, 2)
        l_new = half * x + half * (l_prev + b_prev)
        b_new = half * ((half * x + half * (l_prev + b_prev)) - l_prev) + half * b_prev
        return F.array(l_new, b_new)

    folded = lists.select(
        "n_months",
        F.aggregate(
            F.slice(F.col("vals"), 2, F.size("vals") - 1),
            F.array(x1, x2 - x1),
            step,
        ).alias("lb"),
    )
    return (
        folded.select(
            F.explode(F.sequence(F.lit(1), F.lit(_HOLT_H))).alias("h"),
            "n_months",
            "lb",
        )
        .selectExpr(
            "CAST(h AS BIGINT) AS h",
            "n_months",
            "CAST(round(lb[0], 6) AS DOUBLE) AS level6",
            "CAST(round(lb[1], 6) AS DOUBLE) AS trend6",
            "CAST(round(lb[0] + CAST(h AS DOUBLE) * lb[1], 6) AS DOUBLE) AS forecast6",
        )
        .orderBy("h")
    )
