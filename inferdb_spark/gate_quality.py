"""Round-2 depth gates: calibration, fingerprint sketching, robust stats.

Five operator families extending the reference surface (all
oracle-checked, CLAUDE.md determinism cookbook applied):

- isotonic_calibration — exact isotonic regression (PAVA via the minimax
  characterization) over score bins, fully relational
  (operators/calibration.py);
- winnowing_fingerprints — SIGMOD'03 winnowing document sketch
  (operators/textprep.py:winnowing_fingerprints);
- weighted_median — per-group weighted median via cumulative-weight
  windows (no per-group sort-collect; one shuffle);
- ks_statistic — exact two-sample Kolmogorov-Smirnov distance as an
  integer cross-product max (no floating ECDF accumulation);
- regression_metrics — MAE/RMSE/R^2 battery with DECIMAL(38,0)
  integer-cents accumulation (order-independent at any scale; the
  reference's metrics SQL stops at RMSLE, sql_scripts/lr_reg_test.sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from inferdb_spark.gate import LIN_COEF, LIN_INTERCEPT, gate
from inferdb_spark.catalog import load_table
from inferdb_spark.functions.hashing import duckdb_h52
from inferdb_spark.functions.text import duckdb_normalize

# ---------------------------------------------------------------------------
# isotonic calibration
# ---------------------------------------------------------------------------

ISO_SPLITS = [0.01, 0.03, 0.05, 0.07, 0.09]
_iso_bin_sql = "(" + " + ".join(
    f"CAST(l_discount > {s!r} AS INT)" for s in ISO_SPLITS
) + ")"


@gate(
    "isotonic_calibration",
    oracle=f"""
WITH binned AS (
  SELECT {_iso_bin_sql} AS bin,
         CAST(l_returnflag = 'R' AS INT) AS y
  FROM lineitem
),
aggs AS (
  SELECT bin, CAST(count(*) AS DOUBLE) AS n, CAST(sum(y) AS DOUBLE) AS s
  FROM binned GROUP BY bin
),
pref AS (
  SELECT bin, n, s,
         sum(n) OVER (ORDER BY bin) - n AS cn0,
         sum(s) OVER (ORDER BY bin) - s AS cs0,
         sum(n) OVER (ORDER BY bin) AS cn1,
         sum(s) OVER (ORDER BY bin) AS cs1
  FROM aggs
),
tri AS (
  SELECT i.bin, i.n, i.s, j.bin AS jb,
         (k.cs1 - j.cs0) / (k.cn1 - j.cn0) AS pool_avg
  FROM pref i
  JOIN pref j ON j.bin <= i.bin
  JOIN pref k ON k.bin >= i.bin
),
inner_min AS (
  SELECT bin, n, s, jb, min(pool_avg) AS min_k
  FROM tri GROUP BY bin, n, s, jb
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(n AS BIGINT) AS n,
       round(s / n, 6) AS rate,
       round(max(min_k), 6) AS iso_rate
FROM inner_min
GROUP BY bin, n, s
ORDER BY bin
""",
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate vs discount-bin calibration: the empirical rate need
    not be monotone in discount; the isotonic fit is.  Pool averages are
    ratios of exact-integer-valued doubles, so min/max/div reproduce
    bit-identically across engines; 6dp rounding on output per cookbook."""
    from inferdb_spark.operators.calibration import isotonic_fit

    li = load_table(spark, sf_dir, "lineitem")
    bin_expr = F.lit(0)
    for s in ISO_SPLITS:
        bin_expr = bin_expr + F.when(F.col("l_discount") > F.lit(s), 1).otherwise(0)
    aggs = (
        li.select(bin_expr.cast("int").alias("bin"),
                  (F.col("l_returnflag") == "R").cast("int").alias("y"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"), F.sum("y").alias("s"))
    )
    iso = isotonic_fit(aggs, "bin", "n", "s", ascending=True)
    return iso.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.round("rate", 6).alias("rate"),
        F.round("iso_rate", 6).alias("iso_rate"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# winnowing fingerprints
# ---------------------------------------------------------------------------

_WIN_K, _WIN_W = 5, 4


@gate(
    "winnowing_fingerprints",
    oracle=f"""
WITH n AS (
  SELECT doc_id, {duckdb_normalize('text')} AS t FROM documents WHERE doc_id < 200
),
g AS (
  SELECT doc_id, u.i AS pos, substr(t, u.i, {_WIN_K}) AS gram
  FROM n, unnest(generate_series(1, length(t) - {_WIN_K - 1})) AS u(i)
  WHERE length(t) >= {_WIN_K}
),
h AS (SELECT doc_id, pos, {duckdb_h52('gram')} AS hv FROM g),
m AS (
  SELECT doc_id, pos, hv,
         min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW) AS wmin
  FROM h
)
SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id, CAST(hv AS BIGINT) AS fingerprint
FROM m WHERE hv = wmin
ORDER BY doc_id, fingerprint
""",
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing sketch (trailing-window-min selection, SIGMOD'03) over
    char 5-grams, w=4.  Docs capped at 200 to bound the oracle's k-gram
    blowup; the Spark plan is per-document streaming — scale-safe."""
    from inferdb_spark.operators.textprep import winnowing_fingerprints

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    fp = winnowing_fingerprints(d, "doc_id", "text", k=_WIN_K, w=_WIN_W)
    return fp.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("fingerprint").cast("long").alias("fingerprint"),
    ).orderBy("doc_id", "fingerprint")


# ---------------------------------------------------------------------------
# weighted median
# ---------------------------------------------------------------------------


@gate(
    "weighted_median",
    oracle="""
WITH g AS (
  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
c AS (
  SELECT l_returnflag, price_c, w,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY price_c) AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM g
)
SELECT l_returnflag, CAST(min(price_c) AS BIGINT) AS weighted_median_cents
FROM c WHERE 2 * cw >= tw
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per returnflag: pre-aggregate by
    (group, value) — the shuffle key is the DISTINCT value domain, not
    rows — then one cumulative-weight window.  Lowest value at the
    crossing point breaks ties (cookbook rule).  All-integer arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("l_returnflag", "price_c")
        .agg(F.sum("q").alias("w"))
    )
    wc = Window.partitionBy("l_returnflag").orderBy("price_c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("l_returnflag")
    c = g.withColumn("cw", F.sum("w").over(wc)).withColumn("tw", F.sum("w").over(wt))
    return (
        c.filter(F.lit(2) * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("price_c").cast("long").alias("weighted_median_cents"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov
# ---------------------------------------------------------------------------


@gate(
    "ks_statistic",
    oracle="""
WITH pts AS (
  SELECT value, CAST(event_type = 'click' AS INT) AS a,
         CAST(event_type = 'view' AS INT) AS b
  FROM events WHERE event_type IN ('click', 'view')
),
tot AS (SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2 FROM pts),
e AS (
  SELECT value,
         sum(a) OVER (ORDER BY value RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
         sum(b) OVER (ORDER BY value RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
  FROM pts
)
SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
       round(CAST(max(abs(e.c1 * t.n2 - e.c2 * t.n1)) AS DOUBLE) / (t.n1 * t.n2), 6) AS ks
FROM e, tot t
GROUP BY t.n1, t.n2
""",
)
def q_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS distance between click and view value
    distributions.  ECDF differences are computed as INTEGER
    cross-multiples |c1*n2 - c2*n1| (order-independent, overflow-safe to
    ~3e9 rows per side) and divided once at the end — no accumulated
    floating error.  RANGE frame makes ties contribute their full mass on
    both engines identically."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    pts = ev.select(
        "value",
        (F.col("event_type") == "click").cast("int").alias("a"),
        (F.col("event_type") == "view").cast("int").alias("b"),
    )
    wr = Window.orderBy("value").rangeBetween(Window.unboundedPreceding, 0)
    e = pts.select(
        F.sum("a").over(wr).alias("c1"), F.sum("b").over(wr).alias("c2")
    )
    tot = pts.agg(
        F.sum("a").cast("long").alias("n1"), F.sum("b").cast("long").alias("n2")
    )
    num = e.crossJoin(F.broadcast(tot)).select(
        "n1", "n2",
        F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")).alias("d"),
    )
    return num.groupBy("n1", "n2").agg(
        F.round(
            F.max("d").cast("double") / (F.col("n1") * F.col("n2")), 6
        ).alias("ks")
    )


# ---------------------------------------------------------------------------
# regression metrics battery
# ---------------------------------------------------------------------------

_pred_sql = (
    f"({LIN_COEF['l_quantity']!r} * l_quantity + {LIN_COEF['l_discount']!r} * "
    f"l_discount + {LIN_COEF['l_tax']!r} * l_tax + {LIN_INTERCEPT!r})"
)


@gate(
    "regression_metrics",
    oracle=f"""
WITH d AS (
  SELECT CAST(round(({_pred_sql} - l_quantity) * 100) AS BIGINT) AS dc,
         CAST(round(l_quantity * 100) AS BIGINT) AS yc
  FROM lineitem
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(abs(dc) AS DECIMAL(38,0))) AS sad,
         sum(CAST(dc AS DECIMAL(38,0)) * dc) AS ssd,
         sum(CAST(yc AS DECIMAL(38,0))) AS sy,
         sum(CAST(yc AS DECIMAL(38,0)) * yc) AS syy
  FROM d
)
SELECT n,
       round(CAST(sad AS DOUBLE) / n / 100, 6) AS mae,
       round(sqrt(CAST(ssd AS DOUBLE) / n) / 100, 6) AS rmse,
       round(1 - CAST(n AS DOUBLE) * CAST(ssd AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 6) AS r2
FROM s
""",
)
def q_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE / RMSE / R^2 of the dyadic linear model against l_quantity.
    Row-level residuals are rounded to integer cents (identical doubles on
    both engines -> identical ints), then accumulated in DECIMAL(38,0) so
    the sums are exact and order-independent at ANY scale — no bigint
    overflow ceiling, no float accumulation drift.  One aggregate, one row
    out."""
    li = load_table(spark, sf_dir, "lineitem")
    pred = (
        F.lit(LIN_COEF["l_quantity"]) * F.col("l_quantity")
        + F.lit(LIN_COEF["l_discount"]) * F.col("l_discount")
        + F.lit(LIN_COEF["l_tax"]) * F.col("l_tax")
        + F.lit(LIN_INTERCEPT)
    )
    d = li.select(
        F.round((pred - F.col("l_quantity")) * 100).cast("long").alias("dc"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("yc"),
    )
    dec = "decimal(38,0)"
    s = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.abs(F.col("dc")).cast(dec)).alias("sad"),
        F.sum(F.col("dc").cast(dec) * F.col("dc")).alias("ssd"),
        F.sum(F.col("yc").cast(dec)).alias("sy"),
        F.sum(F.col("yc").cast(dec) * F.col("yc")).alias("syy"),
    )
    n = F.col("n").cast("double")
    return s.select(
        "n",
        F.round(F.col("sad").cast("double") / n / 100, 6).alias("mae"),
        F.round(F.sqrt(F.col("ssd").cast("double") / n) / 100, 6).alias("rmse"),
        F.round(
            1
            - n * F.col("ssd").cast("double")
            / (n * F.col("syy").cast("double")
               - F.col("sy").cast("double") * F.col("sy").cast("double")),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# PII redaction + CCNet-style paragraph dedup (operators/textprep.py).
# The synthetic documents table carries no PII and no paragraph breaks, so
# each gate deterministically injects structure IN-QUERY — the identical
# injection expression on both engines (shared-literal rule); the operator
# under test is the regex/dedup machinery, not the injection.
# ---------------------------------------------------------------------------

from inferdb_spark.operators import textprep as TP

# doc_id-derived fake PII: email, phone (555-xxx-xxxx), and an IPv4.
# Built lazily: classic-mode Column construction needs an active
# SparkContext, and the gate registry must import session-free (the
# driver may call oracle_sql() before it builds a SparkSession).
def _pii_spark():
    return F.concat(
        F.col("text"),
        F.lit(" Contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"), F.lit(".0.1"),
    )
_PII_SQL = (
    "text || ' Contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com or 555-'"
    " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
    " || '-'"
    " || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'"
)

_pii_oracle_cols = TP.pii_redact_sql("t")


@gate(
    "pii_redaction",
    oracle=f"""
    WITH src AS (SELECT doc_id, {_PII_SQL} AS t FROM documents)
    SELECT doc_id,
           {_pii_oracle_cols['n_email']} AS n_email,
           {_pii_oracle_cols['n_phone']} AS n_phone,
           {_pii_oracle_cols['n_ipv4']} AS n_ipv4,
           md5({_pii_oracle_cols['redacted']}) AS redacted_md5
    FROM src
    """,
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan+mask over the corpus (operators/textprep.pii_redact):
    pure regexp expressions, map-only, zero shuffle — the Dolma/CCNet
    curation step at crawl scale.  Counts per kind + md5 of the redacted
    text (exact redaction equality without shipping full text)."""
    docs = load_table(spark, sf_dir, "documents")
    out = TP.pii_redact(
        docs.select("doc_id", _pii_spark().alias("text")), "text"
    )
    return out.select(
        "doc_id",
        F.col("n_email"), F.col("n_phone"), F.col("n_ipv4"),
        F.md5(F.col("redacted")).alias("redacted_md5"),
    )


# boilerplate header/footer shared by every document, delimited paragraphs
def _para_spark():
    return F.concat(
        F.lit("site nav menu home login ### "),
        F.col("text"),
        F.lit(" ### copyright footer all rights reserved"),
    )
_PARA_SQL = (
    "'site nav menu home login ### ' || text ||"
    " ' ### copyright footer all rights reserved'"
)


@gate(
    "paragraph_dedup_corpus",
    oracle=f"""
    WITH src AS (SELECT doc_id, {_PARA_SQL} AS t FROM documents),
    split AS (SELECT doc_id, string_split(t, ' ### ') AS sp FROM src),
    paras AS (
        SELECT doc_id, unnest(sp) AS para,
               unnest(range(len(sp))) AS pos
        FROM split
    ),
    paras_ne AS (SELECT * FROM paras WHERE length(para) > 0),
    ranked AS (
        SELECT doc_id, para, pos,
               row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rk
        FROM paras_ne
    )
    SELECT doc_id,
           md5(string_agg(para, ' ' ORDER BY pos)) AS cleaned_md5,
           CAST(count(*) AS BIGINT) AS n_kept
    FROM ranked WHERE rk = 1 GROUP BY doc_id
    """,
)
def q_paragraph_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide paragraph dedup (operators/textprep.
    paragraph_dedup): every doc shares injected header/footer boilerplate;
    dedup keeps each distinct paragraph's first (doc_id, pos) instance
    only, so exactly one doc retains the header and one the footer, and
    every unique body survives.  Shuffle keys: paragraph (rank), doc_id
    (reassemble) — the standard boilerplate-strip for a 100 TB crawl."""
    docs = load_table(spark, sf_dir, "documents")
    out = TP.paragraph_dedup(
        docs.select("doc_id", _para_spark().alias("text")), "doc_id", "text"
    )
    return out.select(
        "doc_id",
        F.md5(F.col("cleaned")).alias("cleaned_md5"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


@gate(
    "token_budget_per_source",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    r AS (
        SELECT doc_id, source, n_tokens,
               CAST(sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY n_tokens DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM t
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM r WHERE cum_tokens <= 1500
    """,
)
def q_token_budget_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budgeting (operators/textprep.
    token_budget_per_source): cap every source at 1500 tokens, keeping
    its longest documents first — the mixing/budget step of a
    pretraining data recipe as one windowed relation (single shuffle on
    the source key)."""
    docs = load_table(spark, sf_dir, "documents")
    return TP.token_budget_per_source(docs, 1500)
