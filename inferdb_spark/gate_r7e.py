"""Round-7 gate queries, batch 5: sequential decision procedures —
Wald's SPRT for A/B early stopping, and empirical-Bayes (beta-binomial)
shrinkage of per-group rates.

Determinism engineering:
- SPRT's log-likelihood ratio increments use CONSTANT per-observation
  weights ln(p1/p0), ln((1-p1)/(1-p0)) — Python-computed micro-nat
  integer literals burned into BOTH dialects — so the running LLR is a
  pure BIGINT prefix sum and every threshold crossing is an exact
  integer comparison (the sequential sibling of ab_test_ztest);
- EB shrinkage fits (alpha, beta) by method of moments from exact
  integer sufficient statistics; the two divisions happen in one fixed
  written order and the posterior-mean output rounds to 6dp.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.hashing import duckdb_h52, h52
from inferdb_spark.gate import gate

# ---------------------------------------------------------------------------
# Wald SPRT over daily conversion counts
# ---------------------------------------------------------------------------

_SPRT_P0, _SPRT_P1 = 0.30, 0.33  # H0/H1 conversion rates
_SPRT_ALPHA, _SPRT_BETA = 0.05, 0.20
# per-observation LLR weights in integer micro-nats (shared literals)
_SPRT_W1 = round(math.log(_SPRT_P1 / _SPRT_P0) * 1_000_000)  # per conversion
_SPRT_W0 = round(math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)) * 1_000_000)
_SPRT_UPPER = round(math.log((1 - _SPRT_BETA) / _SPRT_ALPHA) * 1_000_000)
_SPRT_LOWER = round(math.log(_SPRT_BETA / (1 - _SPRT_ALPHA)) * 1_000_000)


@gate(
    "sprt_ab_monitor",
    oracle=f"""
    WITH daily AS (
      SELECT CAST({duckdb_h52("CAST(user_id AS VARCHAR)")} % 2 AS BIGINT)
               AS variant,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k_t
      FROM events GROUP BY 1, 2
    ),
    llr AS (
      SELECT variant, day, n_t, k_t,
             CAST(sum({_SPRT_W1} * k_t + {_SPRT_W0} * (n_t - k_t))
                    OVER (PARTITION BY variant ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS llr_u
      FROM daily
    ),
    marked AS (
      SELECT variant, day, n_t, k_t, llr_u,
             (CASE WHEN llr_u >= {_SPRT_UPPER} THEN day * 10 + 1
                   WHEN llr_u <= {_SPRT_LOWER} THEN day * 10 + 2 END) AS dec_u
      FROM llr
    ),
    agg AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(max(llr_u) AS BIGINT) AS max_llr_u,
             CAST(min(llr_u) AS BIGINT) AS min_llr_u,
             min(dec_u) AS dec_u
      FROM marked GROUP BY variant
    )
    SELECT variant, n_days, max_llr_u, min_llr_u,
           CAST(coalesce(dec_u // 10, -1) AS BIGINT) AS first_decision_day,
           (CASE dec_u % 10 WHEN 1 THEN 'accept_h1' WHEN 2 THEN 'accept_h0'
                 ELSE 'continue' END) AS decision
    FROM agg
    """,
)
def q_sprt_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test monitoring each variant's
    purchase rate (H0: p=0.30 vs H1: p=0.33, alpha=0.05, beta=0.20) over
    the daily event stream — the early-stopping companion to
    ab_test_ztest: a pipeline checks the running LLR daily and stops the
    experiment the first day it crosses a Wald boundary.

    Because the Bernoulli LLR increment takes only two values, the
    per-observation weights ln(p1/p0) and ln((1-p1)/(1-p0)) are Python
    micro-nat INTEGER LITERALS shared with the oracle, so the running
    LLR is a BIGINT prefix sum (w1*k + w0*(n-k)) and boundary crossings
    compare exact integers — no transcendental is evaluated by either
    engine.  The first decision is the min over an integer encoding
    day*10 + {{1:h1, 2:h0}}, so the decision reported is the one at the
    EARLIEST crossing even if the trajectory later crosses the other
    boundary.  Scale: one (variant, day) aggregate is the only
    row-proportional work; prefix windows run per variant over days.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            (h52(F.col("user_id").cast("string")) % 2).cast("long").alias(
                "variant"
            ),
            F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)").alias("day"),
        )
        .agg(
            F.count("*").cast("long").alias("n_t"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("k_t"),
        )
    )
    wc = (
        Window.partitionBy("variant")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    llr = daily.select(
        "variant",
        "day",
        "n_t",
        "k_t",
        F.sum(
            F.lit(_SPRT_W1) * F.col("k_t")
            + F.lit(_SPRT_W0) * (F.col("n_t") - F.col("k_t"))
        )
        .over(wc)
        .cast("long")
        .alias("llr_u"),
    )
    dec_u = F.when(
        F.col("llr_u") >= _SPRT_UPPER, F.col("day") * 10 + 1
    ).when(F.col("llr_u") <= _SPRT_LOWER, F.col("day") * 10 + 2)
    marked = llr.select("variant", "day", "llr_u", dec_u.alias("dec_u"))
    agg = marked.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("llr_u").cast("long").alias("max_llr_u"),
        F.min("llr_u").cast("long").alias("min_llr_u"),
        F.min("dec_u").alias("dec_u"),
    )
    return agg.select(
        "variant",
        "n_days",
        "max_llr_u",
        "min_llr_u",
        F.coalesce(F.expr("dec_u div 10"), F.lit(-1))
        .cast("long")
        .alias("first_decision_day"),
        F.when(F.col("dec_u") % 10 == 1, "accept_h1")
        .when(F.col("dec_u") % 10 == 2, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes beta-binomial shrinkage of per-brand return rates
# ---------------------------------------------------------------------------


@gate(
    "eb_shrunk_rates",
    oracle="""
    WITH per_brand AS (
      SELECT p.p_brand AS brand,
             CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k_b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS g,
             CAST(sum(CAST(round(CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                                 * 1000000) AS BIGINT)) AS BIGINT) AS sr_u,
             CAST(sum(CAST(round(CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                                 * CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                                 * 1000000000000) AS BIGINT)) AS BIGINT) AS sr2_u
      FROM per_brand
    ),
    ab AS (
      SELECT
        (CAST(sr_u AS DOUBLE) / 1000000.0 / CAST(g AS DOUBLE)) AS mu,
        ((CAST(sr2_u AS DOUBLE) / 1e12 / CAST(g AS DOUBLE))
         - (CAST(sr_u AS DOUBLE) / 1000000.0 / CAST(g AS DOUBLE))
           * (CAST(sr_u AS DOUBLE) / 1000000.0 / CAST(g AS DOUBLE))) AS var
      FROM mom
    ),
    prior AS (
      SELECT mu, var,
             (mu * (mu * (1.0 - mu) / var - 1.0)) AS alpha,
             ((1.0 - mu) * (mu * (1.0 - mu) / var - 1.0)) AS beta
      FROM ab
    )
    SELECT b.brand, b.n_b, b.k_b,
           round(CAST(b.k_b AS DOUBLE) / CAST(b.n_b AS DOUBLE), 6) AS raw_rate,
           round(p.alpha, 6) AS alpha,
           round(p.beta, 6) AS beta,
           round((CAST(b.k_b AS DOUBLE) + p.alpha)
                 / (CAST(b.n_b AS DOUBLE) + p.alpha + p.beta), 6)
             AS shrunk_rate
    FROM per_brand b CROSS JOIN prior p
    """,
)
def q_eb_shrunk_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-brand return rates
    (the James-Stein move every rate leaderboard needs): fit the Beta
    prior by method of moments over the group rates — alpha =
    mu*(mu(1-mu)/var - 1), beta = (1-mu)*(...) — then report each
    brand's posterior mean (k+alpha)/(n+alpha+beta), which pulls
    small-sample groups toward the grand mean.

    Per-group rates and squared rates quantize to micro-units before the
    cross-group moment sums (order-independent BIGINTs); the prior's
    divisions are written once in a fixed order on both sides.  Scale:
    one fact-dim join collapsing to 25 brand rows; the prior fit and the
    shrinkage are constant work broadcast back onto those rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    per_brand = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("long").alias("n_b"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("k_b"),
        )
    )
    per_brand.cache()
    rate = F.col("k_b").cast("double") / F.col("n_b").cast("double")
    mom = per_brand.agg(
        F.count("*").cast("long").alias("g"),
        F.sum(F.round(rate * 1_000_000).cast("long")).cast("long").alias("sr_u"),
        F.sum(F.round(rate * rate * F.lit(1_000_000_000_000.0)).cast("long"))
        .cast("long")
        .alias("sr2_u"),
    )
    mu = F.col("sr_u").cast("double") / F.lit(1_000_000.0) / F.col("g").cast(
        "double"
    )
    var = (
        F.col("sr2_u").cast("double") / F.lit(1e12) / F.col("g").cast("double")
    ) - mu * mu
    prior = mom.select(
        (mu * (mu * (F.lit(1.0) - mu) / var - F.lit(1.0))).alias("alpha"),
        ((F.lit(1.0) - mu) * (mu * (F.lit(1.0) - mu) / var - F.lit(1.0))).alias(
            "beta"
        ),
    )
    return per_brand.crossJoin(F.broadcast(prior)).select(
        "brand",
        "n_b",
        "k_b",
        F.round(rate, 6).alias("raw_rate"),
        F.round("alpha", 6).alias("alpha"),
        F.round("beta", 6).alias("beta"),
        F.round(
            (F.col("k_b").cast("double") + F.col("alpha"))
            / (F.col("n_b").cast("double") + F.col("alpha") + F.col("beta")),
            6,
        ).alias("shrunk_rate"),
    )


# ---------------------------------------------------------------------------
# Streaming Page-Hinkley monitor (fixed-baseline form) == batch replay
# ---------------------------------------------------------------------------

_SPH_MU0 = 60_000  # baseline hourly value sum, cents
_SPH_DELTA = 5_000
_SPH_LAMBDA = 500_000
_sph_counter = 0


@gate(
    "stream_page_hinkley",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    pre AS (
      SELECT event_type, h,
             CAST(sum(x - cnt * {_SPH_MU0 + _SPH_DELTA})
                    OVER (PARTITION BY event_type ORDER BY h
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS m
      FROM hourly
    ),
    ph AS (
      SELECT event_type, h,
             CAST(m - min(m) OVER (PARTITION BY event_type ORDER BY h
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ph
      FROM pre
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(max(ph) AS BIGINT) AS max_ph,
           CAST(sum(CASE WHEN ph > {_SPH_LAMBDA} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarms,
           CAST(coalesce(min(CASE WHEN ph > {_SPH_LAMBDA} THEN h END), -1)
                AS BIGINT) AS first_alarm_h
    FROM ph GROUP BY event_type
    """,
)
def q_stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift monitoring as a STREAMING job
    (streaming.page_hinkley_stream): per-microbatch hourly partials land
    in batch_id-partitioned state (idempotent under replay), the monitor
    re-scans the bounded (type, hour) relation and overwrites the
    per-type summary — against a FIXED baseline mean, the form a
    production monitor actually deploys (training-time statistics, not
    the stream's own unknowable final mean).  The emitted summary after
    the last trigger must equal the batch replay for ANY file/trigger
    interleaving, because hourly partials re-merge additively.  All
    increments are exact BIGINTs (x - cnt*(mu0+delta) with integer-cent
    literals).
    """
    import os
    import shutil

    from inferdb_spark.gate_stream import _stage_events
    from inferdb_spark.streaming.scoring_stream import (
        page_hinkley_stream,
        stream_from_parquet_dir,
    )

    global _sph_counter
    _sph_counter += 1
    run_dir = f"/tmp/inferdb_stream_ph_{os.getpid()}_{_sph_counter}"
    shutil.rmtree(run_dir, ignore_errors=True)
    out_path = os.path.join(run_dir, "out")
    ckpt = os.path.join(run_dir, "ckpt")

    stage, schema = _stage_events(spark, sf_dir)
    q = page_hinkley_stream(
        stream_from_parquet_dir(spark, stage, schema),
        out_path,
        ckpt,
        mu0_cents=_SPH_MU0,
        delta_cents=_SPH_DELTA,
        lambda_cents=_SPH_LAMBDA,
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(out_path)
