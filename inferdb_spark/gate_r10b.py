"""Round-10 gate queries, batch b.

Pipeline-composition and model-evaluation completions:

- e2e_curation_index   — the e2e curation chain (quality filter → exact
  dedup → decontamination) EXTENDED with a learned-index fit + score
  leg, so stage composition INCLUDING the model stage is one
  hash-checked relation (round-8 verdict #8); also a bench headline
- mcc_matthews_eval    — Matthews correlation + balanced accuracy +
  informedness/markedness for the shared deterministic scorer
- iv_wald_estimator    — instrumental-variable Wald ratio (ITT /
  first-stage) from exact per-arm moments; a placebo on this data
- weibull_survival_fit — Weibull shape/scale by OLS on the
  ln(-ln S) ~ ln t line over the Kaplan-Meier curve
- ridge_regression_gram — closed-form 2-feature ridge vs OLS from the
  exact Gram moments (the linreg_gram family with an L2 penalty)

Determinism: BIGINT moments, per-term micro-quantized transcendental
sums, single shared division chains, nullif-guarded denominators.
Reference scope: extends src/transpiler.py's in-database scoring family
(index build/score: src/transpiler.py:241-377) with the evaluation and
training-diagnostic queries its benchmarks lack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.hashing import duckdb_h52, h52
from inferdb_spark.functions.text import duckdb_tokens
from inferdb_spark.gate import gate
from inferdb_spark.gate_curate import (
    E2E_DECON_N,
    E2E_DECON_SHARED,
    E2E_MIN_TOKENS,
)
from inferdb_spark.gate_r7g import _SC_SQL, _scored

# ---------------------------------------------------------------------------
# e2e curation chain + learned-index fit & score
# ---------------------------------------------------------------------------

_E2E_BIN_W = 10  # token-count bin width of the index key

# the curated-corpus CTE chain, identical to gate:e2e_curation_pipeline
# up to s3 (quality filter -> exact dedup -> decontamination)
_E2E_S3_CTES = f"""corpus AS (SELECT * FROM documents WHERE doc_id % 50 != 0),
    ev AS (SELECT doc_id AS eval_id, text FROM documents
           WHERE doc_id % 50 = 0 AND doc_id < 2500),
    s1 AS (
      SELECT * FROM corpus
      WHERE length(string_split(text, ' ')) >= {E2E_MIN_TOKENS}
    ),
    keep2 AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(text)),
    s2 AS (SELECT s1.* FROM s1 JOIN keep2 USING (doc_id)),
    cg AS (
      SELECT DISTINCT doc_id, gh FROM (
        SELECT doc_id, {duckdb_h52('g')} AS gh FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   range(1, greatest(length(t) - {E2E_DECON_N - 2}, 1)),
                   i -> array_to_string(t[i:i+{E2E_DECON_N - 1}], ' '))) AS g
          FROM (SELECT doc_id, {duckdb_tokens('text')} AS t FROM s2))
      )
    ),
    eg AS (
      SELECT DISTINCT eval_id, gh FROM (
        SELECT eval_id, {duckdb_h52('g')} AS gh FROM (
          SELECT eval_id,
                 unnest(list_transform(
                   range(1, greatest(length(t) - {E2E_DECON_N - 2}, 1)),
                   i -> array_to_string(t[i:i+{E2E_DECON_N - 1}], ' '))) AS g
          FROM (SELECT eval_id, {duckdb_tokens('text')} AS t FROM ev))
      )
    ),
    hits AS (
      SELECT DISTINCT doc_id FROM (
        SELECT cg.doc_id, eg.eval_id, count(*) AS n_shared
        FROM cg JOIN eg USING (gh)
        GROUP BY cg.doc_id, eg.eval_id
        HAVING count(*) >= {E2E_DECON_SHARED})
    ),
    s3 AS (
      SELECT s2.* FROM s2 LEFT JOIN hits ON s2.doc_id = hits.doc_id
      WHERE hits.doc_id IS NULL
    )"""


@gate(
    "e2e_curation_index",
    oracle=f"""
    WITH {_E2E_S3_CTES},
    feat AS (
      SELECT doc_id, source,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             n_chars
      FROM s3
    ),
    lab AS (
      SELECT doc_id, source,
             CAST(n_tokens AS BIGINT) // {_E2E_BIN_W} AS tok_bin,
             CAST(round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                        * 1000.0) AS BIGINT) AS cpt_milli
      FROM feat
    ),
    kv AS (
      SELECT source, tok_bin,
             CAST(round(CAST(sum(cpt_milli) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE)) AS BIGINT) AS pred_milli
      FROM lab GROUP BY source, tok_bin
    ),
    scored AS (
      SELECT lab.source,
             abs(lab.cpt_milli - kv.pred_milli) AS abs_err
      FROM lab JOIN kv USING (source, tok_bin)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(abs_err) AS BIGINT) AS sum_abs_err_milli,
           CAST(round(CAST(sum(abs_err) AS DOUBLE)
                      / nullif(CAST(count(*) AS DOUBLE), 0.0) / 1000.0, 6)
                AS DOUBLE) AS mae6
    FROM scored GROUP BY source ORDER BY source
    """,
)
def q_e2e_curation_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation chain (quality length filter → exact
    dedup → eval-suite decontamination, identical stages to
    gate:e2e_curation_pipeline) EXTENDED with the reference's flagship
    move — fit a learned key-value index on the curated corpus and
    score it back (src/transpiler.py:241-377's group-mean index,
    operators/index.py semantics): key = (source, 10-token bin), value
    = mean chars-per-token; the scored relation reports per-source MAE.
    Stage composition INCLUDING the model fit+score is one hash-checked
    relation, so a regression anywhere in the 5-stage chain moves the
    hash.

    Exactness: labels are milli-quantized BIGINTs per doc; the index
    value quantizes its one division; MAE sums exact integer residuals.
    Scale: the chain is the e2e gate's (each stage's shuffles only);
    the fit is one groupBy on the curated relation; the score is a join
    on the (small) index relation — broadcast-eligible at any corpus
    size because the key domain is (sources × token bins), not rows."""
    from inferdb_spark.operators.dedup import exact_dedup
    from inferdb_spark.operators.textprep import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    evald = docs.filter(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 2500)
    ).select(F.col("doc_id").alias("eval_id"), "text")
    s1 = corpus.where(F.size(F.split(F.col("text"), " ")) >= E2E_MIN_TOKENS)
    s2 = exact_dedup(s1, ["text"], "doc_id")
    s3 = decontaminate(
        s2, evald, n=E2E_DECON_N, min_shared=E2E_DECON_SHARED,
        corpus_id="doc_id", text_col="text",
    )
    lab = s3.select(
        "source",
        F.expr(
            f"CAST(size(split(text, ' ')) AS BIGINT) div {_E2E_BIN_W}"
        ).alias("tok_bin"),
        F.expr(
            "CAST(round(CAST(n_chars AS DOUBLE)"
            " / CAST(size(split(text, ' ')) AS DOUBLE) * 1000.0) AS BIGINT)"
        ).alias("cpt_milli"),
    )
    kv = lab.groupBy("source", "tok_bin").agg(
        F.expr(
            "CAST(round(CAST(sum(cpt_milli) AS DOUBLE)"
            " / CAST(count(*) AS DOUBLE)) AS BIGINT)"
        ).alias("pred_milli")
    )
    scored = lab.join(F.broadcast(kv), ["source", "tok_bin"]).select(
        "source",
        F.abs(F.col("cpt_milli") - F.col("pred_milli")).alias("abs_err"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("abs_err").cast("long").alias("sum_abs_err_milli"),
            F.expr(
                "CAST(round(CAST(sum(abs_err) AS DOUBLE)"
                " / nullif(CAST(count(*) AS DOUBLE), 0.0) / 1000.0, 6)"
                " AS DOUBLE)"
            ).alias("mae6"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Matthews correlation (+ balanced accuracy, informedness, markedness)
# ---------------------------------------------------------------------------

_MCC_OUT = [
    "tp",
    "fp",
    "fn",
    "tn",
    # numerator is an exact BIGINT product difference; the four marginal
    # factors multiply in DOUBLE (their product overflows BIGINT at
    # scale); nullif: any empty margin makes MCC undefined
    "CAST(round(CAST(tp * tn - fp * fn AS DOUBLE)"
    " / nullif(sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)"
    " * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 0.0), 6)"
    " AS DOUBLE) AS mcc6",
    "CAST(round(0.5 * (CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)"
    " + CAST(tn AS DOUBLE) / nullif(CAST(tn + fp AS DOUBLE), 0.0)), 6)"
    " AS DOUBLE) AS balanced_acc6",
    "CAST(round(CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)"
    " + CAST(tn AS DOUBLE) / nullif(CAST(tn + fp AS DOUBLE), 0.0) - 1.0, 6)"
    " AS DOUBLE) AS informedness6",
    "CAST(round(CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)"
    " + CAST(tn AS DOUBLE) / nullif(CAST(tn + fn AS DOUBLE), 0.0) - 1.0, 6)"
    " AS DOUBLE) AS markedness6",
]


@gate(
    "mcc_matthews_eval",
    oracle=f"""
    WITH sc AS (
      SELECT {_SC_SQL} AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    cm AS (
      SELECT
        CAST(sum(CASE WHEN s >= 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(sum(CASE WHEN s >= 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(sum(CASE WHEN s < 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(sum(CASE WHEN s < 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM sc
    )
    SELECT {", ".join(_MCC_OUT)} FROM cm
    """,
)
def q_mcc_matthews_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient — the single-number confusion
    summary that stays honest under class imbalance (accuracy and F1
    both saturate; MCC is the full fourfold point correlation) — plus
    balanced accuracy, Youden informedness, and markedness, for the
    shared deterministic linear scorer thresholded at 0 against the
    returnflag label.  Completes the binary-eval family
    (classification_metrics / auc_rank_sum / average_precision_eval /
    youden_j_threshold / brier / ECE).

    Exactness: the four cells are exact BIGINT conditional sums in ONE
    map-side-combinable pass; the MCC numerator is an exact BIGINT
    product difference; only the 4-margin product crosses into DOUBLE
    (it overflows BIGINT past ~2M rows by construction), identically on
    both sides; every margin is nullif-guarded.  Scale: one scan, one
    1-row aggregate."""
    sc = _scored(spark, sf_dir)
    p = F.col("s") >= 0
    t = F.col("y") == 1
    cm = sc.agg(
        F.sum(F.when(p & t, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(p & ~t, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~p & t, 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~p & ~t, 1).otherwise(0)).cast("long").alias("tn"),
    )
    return cm.selectExpr(*_MCC_OUT)


# ---------------------------------------------------------------------------
# Instrumental-variable Wald estimator
# ---------------------------------------------------------------------------

_IV_OUT = [
    "n0",
    "n1",
    # ITT (reduced form): mean spend difference, kilodollars at 6dp
    "CAST(round((CAST(sy1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0)"
    " - CAST(sy0 AS DOUBLE) / nullif(CAST(n0 AS DOUBLE), 0.0)) / 1000.0, 6)"
    " AS DOUBLE) AS itt_k6",
    # first stage: mean order-count difference
    "CAST(round(CAST(sx1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0)"
    " - CAST(sx0 AS DOUBLE) / nullif(CAST(n0 AS DOUBLE), 0.0), 6)"
    " AS DOUBLE) AS first_stage6",
    # Wald ratio = ITT / first stage (dollars per additional order)
    "CAST(round((CAST(sy1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0)"
    " - CAST(sy0 AS DOUBLE) / nullif(CAST(n0 AS DOUBLE), 0.0))"
    " / nullif(CAST(sx1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0)"
    " - CAST(sx0 AS DOUBLE) / nullif(CAST(n0 AS DOUBLE), 0.0), 0.0), 6)"
    " AS DOUBLE) AS wald_beta6",
]

_IV_Z_DUCK = duckdb_h52("'iv' || CAST(c_custkey AS VARCHAR)") + " % 2"


@gate(
    "iv_wald_estimator",
    oracle=f"""
    WITH pc AS (
      SELECT c.c_custkey, {_IV_Z_DUCK} AS z,
             CAST(count(o.o_orderkey) AS BIGINT) AS x,
             CAST(coalesce(sum(CAST(round(o.o_totalprice) AS BIGINT)), 0)
                  AS BIGINT) AS yd
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ),
    arms AS (
      SELECT
        CAST(sum(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        CAST(sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN z = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
        CAST(sum(CASE WHEN z = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
        CAST(sum(CASE WHEN z = 0 THEN yd ELSE 0 END) AS BIGINT) AS sy0,
        CAST(sum(CASE WHEN z = 1 THEN yd ELSE 0 END) AS BIGINT) AS sy1
      FROM pc
    )
    SELECT {", ".join(_IV_OUT)} FROM arms
    """,
)
def q_iv_wald_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable Wald estimator with a hash-assigned binary
    instrument over customers: ITT (reduced-form spend difference),
    first stage (order-count difference), and the Wald ratio
    beta = ITT / first-stage — the canonical encouragement-design
    read-out (2SLS with one instrument and one endogenous regressor
    reduces exactly to this ratio).  A placebo on this data: the
    instrument is a hash, so both stages sit near 0 and beta is
    deliberately unstable — which is exactly what the nullif-guarded
    division chain must survive (the weak-instrument regime).

    Exactness: per-arm (n, Σx, Σy) are exact BIGINTs off one
    customer-grain aggregation; all means/ratios divide once in shared
    SQL.  Scale: one join + two map-side-combinable aggregations."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    pc = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").cast("long").alias("x"),
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice")).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("yd"),
        )
        .withColumn(
            "z", h52(F.concat(F.lit("iv"), F.col("c_custkey").cast("string"))) % 2
        )
    )
    arms = pc.agg(
        F.sum(F.when(F.col("z") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("z") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("z") == 0, F.col("x")).otherwise(0)).cast("long").alias("sx0"),
        F.sum(F.when(F.col("z") == 1, F.col("x")).otherwise(0)).cast("long").alias("sx1"),
        F.sum(F.when(F.col("z") == 0, F.col("yd")).otherwise(0)).cast("long").alias("sy0"),
        F.sum(F.when(F.col("z") == 1, F.col("yd")).otherwise(0)).cast("long").alias("sy1"),
    )
    return arms.selectExpr(*_IV_OUT)


# ---------------------------------------------------------------------------
# Weibull survival fit over the Kaplan-Meier curve
# ---------------------------------------------------------------------------

# Duration = days from a user's FIRST event to their FIRST 'purchase'
# (right-censored at the global horizon if they never purchase).  The
# kaplan_meier gate's last-activity lifetime is fully censored on this
# synthetic feed (every user stays active to the final days), so the
# conversion clock is the survival definition with real event mass.
_WB_DAY_US = 86_400_000_000

# OLS of v = ln(-ln S(t)) on u = ln(t) over the KM curve points with
# t >= 1, S in (0, 1): the Weibull linearization (shape = slope,
# ln scale = -intercept/slope).  Per-point u/v terms are micro-quantized
# BIGINTs before the sums.
_WB_DET = (
    "(CAST(np AS DOUBLE) * CAST(suu AS DOUBLE) / 1000000.0"
    " - CAST(su AS DOUBLE) / 1000000.0 * CAST(su AS DOUBLE) / 1000000.0)"
)
_WB_B = (
    f"((CAST(np AS DOUBLE) * CAST(suv AS DOUBLE) / 1000000.0"
    f" - CAST(su AS DOUBLE) / 1000000.0 * CAST(sv AS DOUBLE) / 1000000.0)"
    f" / nullif({_WB_DET}, 0.0))"
)
_WB_A = (
    f"((CAST(sv AS DOUBLE) / 1000000.0 - {_WB_B}"
    f" * CAST(su AS DOUBLE) / 1000000.0) / CAST(np AS DOUBLE))"
)
_WB_OUT = [
    "np",
    f"CAST(round({_WB_B}, 6) AS DOUBLE) AS shape6",
    f"CAST(round(-{_WB_A} / nullif({_WB_B}, 0.0), 6) AS DOUBLE) AS ln_scale6",
]


@gate(
    "weibull_survival_fit",
    oracle=f"""
    WITH subj AS (
      SELECT user_id, min(epoch_us(ts)) AS first_us,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS purch_us
      FROM events GROUP BY user_id
    ),
    gmax AS (SELECT max(epoch_us(ts)) AS m FROM events),
    durs AS (
      SELECT CAST((coalesce(purch_us, gmax.m) - first_us)
                  // {_WB_DAY_US} AS BIGINT) AS t,
             CASE WHEN purch_us IS NOT NULL THEN 1 ELSE 0 END AS obs
      FROM subj CROSS JOIN gmax
    ),
    per_t AS (
      SELECT t, CAST(sum(obs) AS BIGINT) AS d,
             CAST(sum(1 - obs) AS BIGINT) AS c
      FROM durs GROUP BY t
    ),
    risk AS (
      SELECT t, d, c,
             CAST((SELECT count(*) FROM durs) -
                  coalesce(sum(d + c) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_risk
      FROM per_t
    ),
    terms AS (
      SELECT t, d, n_risk,
             CASE WHEN d = 0 OR d = n_risk THEN NULL
                  ELSE CAST(floor(ln(CAST(n_risk - d AS DOUBLE) /
                                     CAST(n_risk AS DOUBLE)) * 1000000.0 + 0.5)
                       AS BIGINT) END AS term
      FROM risk
    ),
    curve AS (
      SELECT t,
             CAST(sum(term) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS lns_micro
      FROM terms WHERE term IS NOT NULL
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(t AS DOUBLE)) * 1000000.0) AS BIGINT) AS u_u,
             CAST(round(ln(-(CAST(lns_micro AS DOUBLE) / 1000000.0))
                        * 1000000.0) AS BIGINT) AS v_u,
             CAST(round(ln(CAST(t AS DOUBLE)) * ln(CAST(t AS DOUBLE))
                        * 1000000.0) AS BIGINT) AS uu_u,
             CAST(round(ln(CAST(t AS DOUBLE))
                        * ln(-(CAST(lns_micro AS DOUBLE) / 1000000.0))
                        * 1000000.0) AS BIGINT) AS uv_u
      FROM curve WHERE t >= 1 AND lns_micro < 0
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS np,
             CAST(sum(u_u) AS BIGINT) AS su, CAST(sum(v_u) AS BIGINT) AS sv,
             CAST(sum(uu_u) AS BIGINT) AS suu, CAST(sum(uv_u) AS BIGINT) AS suv
      FROM pts
    )
    SELECT {", ".join(_WB_OUT)} FROM mom
    """,
)
def q_weibull_survival_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull shape/scale fitted to the time-to-first-purchase survival
    curve (duration = days from a user's first event to their first
    'purchase'; never-purchasers are right-censored at the global
    horizon): the exact micro-nat Kaplan-Meier ln S(t) (the
    gate:kaplan_meier machinery on the conversion clock), then OLS the
    Weibull linearization ln(-ln S) = shape·ln t - shape·ln scale over
    the curve points with t ≥ 1 and 0 < S < 1.  Shape < 1 means
    conversion hazard decreases with wait (convert-early-or-never);
    the parametric summary the KM/Nelson-Aalen/log-rank family lacks.

    Exactness: ln S is an exact BIGINT micro-nat cumulative sum; the
    four regression terms are micro-quantized per CURVE POINT (bounded
    by distinct durations, not users) before BIGINT sums; slope and
    intercept compose once in shared SQL, nullif-guarded (a single
    curve point zeroes the determinant; an empty curve yields NULLs —
    the degenerate-battery contract).  Scale: one groupBy(user), one
    groupBy(duration); every window runs on the duration domain."""
    ev = load_table(spark, sf_dir, "events")
    subj = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("purch_us"),
    )
    gmax = ev.agg(F.max(F.unix_micros("ts")).alias("m"))
    durs = subj.crossJoin(F.broadcast(gmax)).select(
        F.floor(
            (F.coalesce(F.col("purch_us"), F.col("m")) - F.col("first_us"))
            / _WB_DAY_US
        )
        .cast("long")
        .alias("t"),
        F.when(F.col("purch_us").isNotNull(), 1).otherwise(0).alias("obs"),
    )
    n_total = durs.count()
    per_t = durs.groupBy("t").agg(
        F.sum("obs").cast("long").alias("d"),
        F.sum(1 - F.col("obs")).cast("long").alias("c"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = per_t.withColumn(
        "n_risk",
        (
            F.lit(n_total)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).cast("long"),
    )
    terms = risk.select(
        "t",
        F.when((F.col("d") == 0) | (F.col("d") == F.col("n_risk")), F.lit(None))
        .otherwise(
            F.floor(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk").cast("double")
                )
                * 1000000.0
                + 0.5
            ).cast("long")
        )
        .alias("term"),
    ).filter(F.col("term").isNotNull())
    curve = terms.select(
        "t", F.sum("term").over(w_cum).cast("long").alias("lns_micro")
    )
    u = F.log(F.col("t").cast("double"))
    v = F.log(-(F.col("lns_micro").cast("double") / 1000000.0))
    pts = curve.filter((F.col("t") >= 1) & (F.col("lns_micro") < 0)).select(
        F.round(u * 1000000.0).cast("long").alias("u_u"),
        F.round(v * 1000000.0).cast("long").alias("v_u"),
        F.round(u * u * 1000000.0).cast("long").alias("uu_u"),
        F.round(u * v * 1000000.0).cast("long").alias("uv_u"),
    )
    mom = pts.agg(
        F.count("*").cast("long").alias("np"),
        F.sum("u_u").cast("long").alias("su"),
        F.sum("v_u").cast("long").alias("sv"),
        F.sum("uu_u").cast("long").alias("suu"),
        F.sum("uv_u").cast("long").alias("suv"),
    )
    return mom.selectExpr(*_WB_OUT)


# ---------------------------------------------------------------------------
# Ridge regression (closed form, 2 features) vs OLS from the exact Gram
# ---------------------------------------------------------------------------

# centered n²-scaled covariances from the exact BIGINT raw moments
# (the partial_correlation written-order-double discipline — raw
# products overflow BIGINT at scale)
def _rr_c(a: str, b: str) -> str:
    q = f"q{a}" if a == b else f"c{a}{b}"
    return (
        f"(CAST(n AS DOUBLE) * CAST({q} AS DOUBLE)"
        f" - CAST(s{a} AS DOUBLE) * CAST(s{b} AS DOUBLE))"
    )


# relative penalty: lam = 0.01 * mean of the two feature variances —
# a shared closed-form expression, so both engines compute the same
# number at any SF (an absolute constant would de-calibrate with n²)
_RR_LAM = f"(0.01 * ({_rr_c('1', '1')} + {_rr_c('2', '2')}) / 2.0)"


def _rr_beta(which: str, lam: str) -> str:
    """Cramer solution of [(C11+lam, C12), (C12, C22+lam)] b = (R1, R2)."""
    det = (
        f"(({_rr_c('1', '1')} + {lam}) * ({_rr_c('2', '2')} + {lam})"
        f" - {_rr_c('1', '2')} * {_rr_c('1', '2')})"
    )
    if which == "1":
        num = (
            f"(({_rr_c('2', '2')} + {lam}) * {_rr_c('1', 'y')}"
            f" - {_rr_c('1', '2')} * {_rr_c('2', 'y')})"
        )
    else:
        num = (
            f"(({_rr_c('1', '1')} + {lam}) * {_rr_c('2', 'y')}"
            f" - {_rr_c('1', '2')} * {_rr_c('1', 'y')})"
        )
    return f"({num} / nullif({det}, 0.0))"


_RR_OUT = [
    "n",
    f"CAST(round({_rr_beta('1', '0.0')}, 6) AS DOUBLE) AS b1_ols6",
    f"CAST(round({_rr_beta('2', '0.0')}, 6) AS DOUBLE) AS b2_ols6",
    f"CAST(round({_rr_beta('1', _RR_LAM)}, 6) AS DOUBLE) AS b1_ridge6",
    f"CAST(round({_rr_beta('2', _RR_LAM)}, 6) AS DOUBLE) AS b2_ridge6",
]


@gate(
    "ridge_regression_gram",
    oracle=f"""
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice) AS BIGINT) AS y
      FROM lineitem
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x1 * x1) AS BIGINT) AS q1,
             CAST(sum(x2 * x2) AS BIGINT) AS q2,
             CAST(sum(x1 * x2) AS BIGINT) AS c12,
             CAST(sum(x1 * y) AS BIGINT) AS c1y,
             CAST(sum(x2 * y) AS BIGINT) AS c2y
      FROM base
    )
    SELECT {", ".join(_RR_OUT)} FROM mom
    """,
)
def q_ridge_regression_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge regression (two features: quantity, discount
    cents; target: extended price) next to its OLS solution — the L2
    member of the exact-Gram training family (linreg_gram is the
    unpenalized template; logreg/svm/quantile replay iterative fits).
    The ridge penalty is RELATIVE (1% of the mean feature variance), so
    the same query is calibrated at every SF; comparing b_ridge to
    b_ols shows the shrinkage directly.

    Exactness: nine raw moments are exact BIGINT sums; centered
    covariances compose as written-order doubles (they overflow BIGINT
    at scale — the partial_correlation discipline); the 2x2 Cramer
    solve divides once per coefficient, determinant nullif-guarded
    (collinear features).  Scale: one scan, one 1-row aggregate —
    training cost is the Gram pass, independent of solver."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    mom = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("q1"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("q2"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("c12"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("c1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("c2y"),
    )
    return mom.selectExpr(*_RR_OUT)
