"""Round-7 gate queries, batch 6: corpus-law diagnostics — Heaps' law
vocabulary growth and the Zipf rank-frequency slope.

Both are the statistics a tokenizer/corpus team checks before training
(is the corpus's type-token behavior normal? is the frequency tail
Zipfian or duplicated-flat?).  Scale/determinism:

- vocabulary growth uses NO global sort: checkpoints are doc_id
  thresholds (ids are dense), each term contributes min(doc_id), and a
  10-literal threshold join counts first-occurrences per prefix;
- both log-log OLS fits run on tiny relations (10 checkpoints / top-100
  terms) with per-row ln() quantized to integer micro-units, so the
  regression moment sums are exact BIGINTs — cross-engine float
  accumulation order never matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions import text as TXT
from inferdb_spark.gate import gate

_HEAPS_CKPTS = 10


@gate(
    "heaps_law_curve",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({TXT.duckdb_tokens('text')}) AS term FROM documents
    ),
    mx AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS m FROM documents),
    firsts AS (
      SELECT term, CAST(min(doc_id) AS BIGINT) AS first_id,
             CAST(count(*) AS BIGINT) AS freq
      FROM tok GROUP BY term
    ),
    ck AS (
      SELECT CAST(unnest(range(1, {_HEAPS_CKPTS + 1})) AS BIGINT) AS c
    ),
    curve AS (
      SELECT ck.c,
             CAST((ck.c * mx.m) // {_HEAPS_CKPTS} AS BIGINT) AS thr,
             CAST(count(CASE WHEN f.first_id < (ck.c * mx.m) // {_HEAPS_CKPTS}
                        THEN 1 END) AS BIGINT) AS vocab
      FROM ck CROSS JOIN mx CROSS JOIN firsts f
      GROUP BY ck.c, thr
    ),
    toks_prefix AS (
      SELECT ck.c,
             CAST(count(*) AS BIGINT) AS tokens
      FROM ck CROSS JOIN mx JOIN tok
        ON tok.doc_id < (ck.c * mx.m) // {_HEAPS_CKPTS}
      GROUP BY ck.c
    ),
    pts AS (
      SELECT curve.c, toks_prefix.tokens, curve.vocab,
             CAST(round(ln(CAST(toks_prefix.tokens AS DOUBLE)) * 1000000)
                  AS BIGINT) AS x_u,
             CAST(round(ln(CAST(curve.vocab AS DOUBLE)) * 1000000)
                  AS BIGINT) AS y_u
      FROM curve JOIN toks_prefix ON curve.c = toks_prefix.c
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(x_u) AS BIGINT) AS sx, CAST(sum(y_u) AS BIGINT) AS sy,
             CAST(sum(x_u * y_u) AS BIGINT) AS sxy,
             CAST(sum(x_u * x_u) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT pts.c, pts.tokens, pts.vocab,
           round((CAST(fit.k AS DOUBLE) * CAST(fit.sxy AS DOUBLE)
                  - CAST(fit.sx AS DOUBLE) * CAST(fit.sy AS DOUBLE))
                 / (CAST(fit.k AS DOUBLE) * CAST(fit.sxx AS DOUBLE)
                    - CAST(fit.sx AS DOUBLE) * CAST(fit.sx AS DOUBLE)), 6)
             AS heaps_beta
    FROM pts CROSS JOIN fit
    """,
)
def q_heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law vocabulary-growth curve V(n) ~ K*n^beta over ten
    corpus prefixes, with beta fit by log-log OLS — the type-token
    diagnostic a tokenizer team runs before committing a vocab size
    (duplicated corpora flatten beta; OCR noise inflates it).

    NO global sort anywhere: prefixes are doc_id thresholds (dense ids),
    each term contributes min(doc_id) (one groupBy), and a 10-literal
    checkpoint cross join counts first-occurrences per prefix.  The OLS
    runs on 10 points with ln() quantized to micro-units, so the moment
    sums are exact BIGINTs and the slope is one fixed-order division.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(TXT.tokens_sql("`text`"))).alias("term"))
    tok.cache()
    mx = docs.agg((F.max("doc_id") + 1).cast("long").alias("m"))
    firsts = tok.groupBy("term").agg(
        F.min("doc_id").cast("long").alias("first_id"),
        F.count("*").cast("long").alias("freq"),
    )
    ck = spark.range(1, _HEAPS_CKPTS + 1).select(F.col("id").cast("long").alias("c"))
    thr = F.expr(f"(c * m) div {_HEAPS_CKPTS}")
    curve = (
        ck.crossJoin(F.broadcast(mx))
        .crossJoin(firsts)
        .select("c", thr.alias("thr"), "first_id")
        .groupBy("c", "thr")
        .agg(
            F.count(F.when(F.col("first_id") < F.col("thr"), 1))
            .cast("long")
            .alias("vocab")
        )
    )
    toks_prefix = (
        ck.crossJoin(F.broadcast(mx))
        .join(tok, tok.doc_id < thr)
        .groupBy("c")
        .agg(F.count("*").cast("long").alias("tokens"))
    )
    pts = curve.join(toks_prefix, "c").select(
        "c",
        "tokens",
        "vocab",
        F.round(F.log(F.col("tokens").cast("double")) * 1_000_000)
        .cast("long")
        .alias("x_u"),
        F.round(F.log(F.col("vocab").cast("double")) * 1_000_000)
        .cast("long")
        .alias("y_u"),
    )
    pts.cache()
    fit = pts.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("x_u").cast("long").alias("sx"),
        F.sum("y_u").cast("long").alias("sy"),
        F.sum(F.col("x_u") * F.col("y_u")).cast("long").alias("sxy"),
        F.sum(F.col("x_u") * F.col("x_u")).cast("long").alias("sxx"),
    )
    kd = F.col("k").cast("double")
    beta = (
        kd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        kd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "c", "tokens", "vocab", F.round(beta, 6).alias("heaps_beta")
    )


_ZIPF_TOP = 100


@gate(
    "zipf_slope_fit",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({TXT.duckdb_tokens('text')}) AS term FROM documents
    ),
    counts AS (SELECT term, CAST(count(*) AS BIGINT) AS freq
               FROM tok GROUP BY term),
    top AS (
      SELECT term, freq,
             CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT)
               AS rank
      FROM counts ORDER BY freq DESC, term LIMIT {_ZIPF_TOP}
    ),
    pts AS (
      SELECT rank, term, freq,
             CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x_u,
             CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS y_u
      FROM top
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(x_u) AS BIGINT) AS sx, CAST(sum(y_u) AS BIGINT) AS sy,
             CAST(sum(x_u * y_u) AS BIGINT) AS sxy,
             CAST(sum(x_u * x_u) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT pts.rank, pts.term, pts.freq,
           round((CAST(fit.k AS DOUBLE) * CAST(fit.sxy AS DOUBLE)
                  - CAST(fit.sx AS DOUBLE) * CAST(fit.sy AS DOUBLE))
                 / (CAST(fit.k AS DOUBLE) * CAST(fit.sxx AS DOUBLE)
                    - CAST(fit.sx AS DOUBLE) * CAST(fit.sx AS DOUBLE)), 6)
             AS zipf_slope
    FROM pts CROSS JOIN fit
    """,
)
def q_zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope over the top-100 terms (log-log OLS;
    a healthy natural-language corpus sits near -1, boilerplate-heavy or
    deduplicate-starved corpora flatten toward 0) — the frequency-tail
    companion to heaps_law_curve.

    Term counts are one groupBy; top-100 is a TakeOrdered with the
    (freq DESC, term) total order; the OLS runs on 100 rows with
    micro-quantized ln() so the moment sums are exact BIGINTs.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.expr(TXT.tokens_sql("`text`"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    top = (
        counts.orderBy(F.col("freq").desc(), "term")
        .limit(_ZIPF_TOP)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("freq").desc(), "term"))
            .cast("long")
            .alias("rank"),
            "term",
            "freq",
        )
    )
    pts = top.select(
        "rank",
        "term",
        "freq",
        F.round(F.log(F.col("rank").cast("double")) * 1_000_000)
        .cast("long")
        .alias("x_u"),
        F.round(F.log(F.col("freq").cast("double")) * 1_000_000)
        .cast("long")
        .alias("y_u"),
    )
    pts.cache()
    fit = pts.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("x_u").cast("long").alias("sx"),
        F.sum("y_u").cast("long").alias("sy"),
        F.sum(F.col("x_u") * F.col("y_u")).cast("long").alias("sxy"),
        F.sum(F.col("x_u") * F.col("x_u")).cast("long").alias("sxx"),
    )
    kd = F.col("k").cast("double")
    slope = (
        kd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        kd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "rank", "term", "freq", F.round(slope, 6).alias("zipf_slope")
    )


# ---------------------------------------------------------------------------
# Benford first-digit conformity test
# ---------------------------------------------------------------------------

# log10(1 + 1/d) in integer micro-units, d = 1..9 (Python literals)
_BENFORD_P_U = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]
_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in enumerate(_BENFORD_P_U, start=1)
)


@gate(
    "benford_digit_test",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    hist AS (
      SELECT d, CAST(count(*) AS BIGINT) AS obs FROM digits GROUP BY d
    ),
    ex AS (
      SELECT d, obs,
             CAST((CASE d {_BENFORD_CASE} END) AS BIGINT) AS p_u,
             CAST(sum(obs) OVER () AS BIGINT) AS n
      FROM hist
    ),
    contrib AS (
      SELECT d, obs, p_u, n,
             CAST(round((CAST(obs AS DOUBLE)
                         - CAST(n AS DOUBLE) * CAST(p_u AS DOUBLE) / 1000000.0)
                        * (CAST(obs AS DOUBLE)
                           - CAST(n AS DOUBLE) * CAST(p_u AS DOUBLE) / 1000000.0)
                        / (CAST(n AS DOUBLE) * CAST(p_u AS DOUBLE) / 1000000.0)
                        * 1000000) AS BIGINT) AS chi_u
      FROM ex
    )
    SELECT d, obs,
           round(CAST(p_u AS DOUBLE) / 1000000.0, 6) AS expected_p,
           round(CAST(obs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS observed_p,
           round(CAST(sum(chi_u) OVER () AS DOUBLE) / 1000000.0, 6) AS chi2
    FROM contrib
    """,
)
def q_benford_digit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit conformity of order totals — the
    classic data-quality / fabrication screen a warehouse runs on any
    money column.  The leading digit comes from the INTEGER-CENTS
    string (no per-row log10 — leading digit is scale-invariant, and a
    transcendental per row would be both slow and non-portable); the
    expected probabilities log10(1+1/d) are Python micro-unit literals;
    per-digit chi-square contributions quantize to micro-units before
    the 9-row window sum.  Scale: one scan to a 9-row histogram.
    """
    od = load_table(spark, sf_dir, "orders")
    digits = od.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("d")
    )
    hist = digits.groupBy("d").agg(F.count("*").cast("long").alias("obs"))
    p_map = F.create_map(
        *[x for d, p in enumerate(_BENFORD_P_U, start=1) for x in (F.lit(d), F.lit(p))]
    )
    wall = Window.partitionBy()
    ex = hist.select(
        "d",
        "obs",
        p_map[F.col("d")].cast("long").alias("p_u"),
        F.sum("obs").over(wall).cast("long").alias("n"),
    )
    e = F.col("n").cast("double") * F.col("p_u").cast("double") / F.lit(1_000_000.0)
    contrib = ex.select(
        "d",
        "obs",
        "p_u",
        "n",
        F.round(
            (F.col("obs").cast("double") - e)
            * (F.col("obs").cast("double") - e)
            / e
            * 1_000_000
        )
        .cast("long")
        .alias("chi_u"),
    )
    return contrib.select(
        "d",
        "obs",
        F.round(F.col("p_u").cast("double") / F.lit(1_000_000.0), 6).alias(
            "expected_p"
        ),
        F.round(F.col("obs").cast("double") / F.col("n").cast("double"), 6).alias(
            "observed_p"
        ),
        F.round(
            F.sum("chi_u").over(wall).cast("double") / F.lit(1_000_000.0), 6
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Mahalanobis outlier top-k from exact moment sums (2-feature closed form)
# ---------------------------------------------------------------------------

_MAHA_TOP = 20


@gate(
    "mahalanobis_outliers",
    oracle=f"""
    WITH base AS (
      SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice) AS BIGINT) AS y
      FROM lineitem
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM base
    ),
    pars AS (
      SELECT n,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
             (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vx,
             (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vy,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS cxy
      FROM mom
    )
    SELECT rid, x, y,
           round(((CAST(x AS DOUBLE) - mx) * (CAST(x AS DOUBLE) - mx) * vy
                  - 2.0 * (CAST(x AS DOUBLE) - mx) * (CAST(y AS DOUBLE) - my) * cxy
                  + (CAST(y AS DOUBLE) - my) * (CAST(y AS DOUBLE) - my) * vx)
                 / (vx * vy - cxy * cxy), 6) AS d2
    FROM base CROSS JOIN pars
    ORDER BY d2 DESC, rid LIMIT {_MAHA_TOP}
    """,
)
def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 Mahalanobis-distance outliers over (quantity, price) — the
    covariance-aware anomaly screen (a point can be normal in every
    marginal yet far from the joint distribution).  The 2x2 covariance
    inverts in closed form, so d^2 = ((x-mx)^2*vy - 2(x-mx)(y-my)*cxy +
    (y-my)^2*vx) / det: ONE moment aggregation (exact BIGINT sums in
    dollars), constants broadcast back, one scoring scan, TakeOrdered
    top-k — no covariance matrix library, no second pass over data.
    Ties break on (d2 DESC, rid).
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("long")
        .alias("rid"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    base.cache()
    mom = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    pars = mom.select(
        (F.col("sx").cast("double") / nd).alias("mx"),
        (F.col("sy").cast("double") / nd).alias("my"),
        (
            (nd * F.col("sxx").cast("double")
             - F.col("sx").cast("double") * F.col("sx").cast("double"))
            / (nd * nd)
        ).alias("vx"),
        (
            (nd * F.col("syy").cast("double")
             - F.col("sy").cast("double") * F.col("sy").cast("double"))
            / (nd * nd)
        ).alias("vy"),
        (
            (nd * F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (nd * nd)
        ).alias("cxy"),
    )
    dx = F.col("x").cast("double") - F.col("mx")
    dy = F.col("y").cast("double") - F.col("my")
    d2 = (
        dx * dx * F.col("vy")
        - F.lit(2.0) * dx * dy * F.col("cxy")
        + dy * dy * F.col("vx")
    ) / (F.col("vx") * F.col("vy") - F.col("cxy") * F.col("cxy"))
    return (
        base.crossJoin(F.broadcast(pars))
        .select("rid", "x", "y", F.round(d2, 6).alias("d2"))
        .orderBy(F.col("d2").desc(), "rid")
        .limit(_MAHA_TOP)
    )
