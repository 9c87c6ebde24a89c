"""Round-5 gates: multiclass + latent-factor trainers, mergeable heavy
hitters, and model-evaluation relations (leave-fold-out CV, split
conformal intervals, PSI drift).

Reference anchors: the in-DB-training family (PGML `pgml.train`,
src/transpiler.py:2032-2101; MADlib trainers incl. multinomial logistic
and `lmf_igd_run` matrix factorization, :2382-2466) and the
class-frequency / WoE statistics (src/encoder.py) whose 100 TB
substitute is the mergeable Misra-Gries summary.  Everything follows the
gate.py determinism cookbook: integer micro-units, floor-snapping, 6dp
rounds on transcendental outputs, lowest-value tie-breaks, BIGINT/DOUBLE
casts on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.text import duckdb_tokens, tokens_sql
from inferdb_spark.gate import gate
from inferdb_spark.operators import mf as MF
from inferdb_spark.operators import softmax as SM
from inferdb_spark.operators.sketch import mg_heavy_hitters, mg_shard_summaries

# ---------------------------------------------------------------------------
# native SOFTMAX (multinomial LR) training replay — 3 classes from
# l_returnflag, the multiclass sibling of logreg_train_replay.

SM_FEATS = ["qn", "l_discount", "l_tax"]
SM_FEAT_SQLS = [
    "l_quantity * CAST(0.02 AS DOUBLE)",
    "l_discount",
    "l_tax",
]
SM_LABEL_SQL = (
    "CASE WHEN l_returnflag = 'A' THEN 0 WHEN l_returnflag = 'N' THEN 1 ELSE 2 END"
)
SM_CLASSES = 3
SM_STEPS = 8
SM_LR = 2.0
SM_SCALE = 10_000


@gate(
    "softmax_train_replay",
    oracle=SM.fit_predict_softmax_sql(
        SM_FEAT_SQLS,
        label_sql=SM_LABEL_SQL,
        row_id_sql="l_orderkey * 10 + l_linenumber",
        n_classes=SM_CLASSES,
        n_steps=SM_STEPS,
        learning_rate=SM_LR,
        scale=SM_SCALE,
    ),
)
def q_softmax_train_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native MULTINOMIAL logistic-regression training
    (operators/softmax.fit_softmax_gd): 8 fixed-step full-batch GD rounds
    on the 3-class returnflag label, one exact BIGINT aggregation per step
    (C·(p+1)+1 sums), then every row scored — snapped class probabilities
    + lowest-index-tie argmax.  The oracle replays the ENTIRE fit as a
    DuckDB CTE chain from the same literals (the logreg_train_replay
    standard lifted to C classes)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("qn", F.col("l_quantity") * F.lit(0.02))
        .withColumn(
            "y",
            F.when(F.col("l_returnflag") == "A", 0)
            .when(F.col("l_returnflag") == "N", 1)
            .otherwise(2)
            .cast("long"),
        )
    )
    model = SM.fit_softmax_gd(
        li, SM_FEATS, "y", n_classes=SM_CLASSES, n_steps=SM_STEPS,
        learning_rate=SM_LR, scale=SM_SCALE,
    )
    ps = model.probabilities()
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("long")
        .alias("row_id"),
        *[ps[c].cast("double").alias(f"p{c}") for c in range(SM_CLASSES)],
        model.prediction().alias("pred"),
    )


# ---------------------------------------------------------------------------
# native MATRIX-FACTORIZATION training replay — MADlib lmf_igd analog.
# user = supplier, item = part, rating = normalized quantity; the fitted
# factor matrices live as relations and the output is the pure-integer
# prediction dot per rating row.

MF_K = 2
MF_STEPS = 3
MF_LR = 1.0


@gate(
    "mf_train_replay",
    oracle=MF.fit_predict_mf_sql(
        user_sql="l_suppkey",
        item_sql="l_partkey",
        rating_sql="l_quantity * CAST(0.02 AS DOUBLE)",
        row_id_sql="l_orderkey * 10 + l_linenumber",
        k=MF_K,
        n_steps=MF_STEPS,
        learning_rate=MF_LR,
    ),
)
def q_mf_train_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latent-factor recommender TRAINING in-engine
    (operators/mf.fit_mf_gd): joint full-batch GD over (supplier, part,
    qty) triples, k=2 factors stored as BIGINT-micro-unit RELATIONS (model
    never reaches the driver), hash-portable init, 3 steps.  Output is the
    exact integer factor dot per rating row, so the driver hash checks the
    whole fit including both factor matrices.  Oracle replays init + every
    step as a DuckDB CTE chain."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "rating", F.col("l_quantity") * F.lit(0.02)
    )
    model = MF.fit_mf_gd(
        li, "l_suppkey", "l_partkey", "rating",
        k=MF_K, n_steps=MF_STEPS, learning_rate=MF_LR,
    )
    scored = model.predict(
        li.select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
            .cast("long")
            .alias("row_id"),
            F.col("l_suppkey").cast("long").alias("u"),
            F.col("l_partkey").cast("long").alias("i"),
        )
    )
    return scored.select("row_id", "pred_micro2").orderBy("row_id")


# ---------------------------------------------------------------------------
# Misra-Gries mergeable heavy hitters over document terms.

MG_SHARDS = 8
MG_CAP = 32
MG_TOPK = 25
_MG_D_SHARD = (
    "(list_reduce(list_transform(regexp_extract_all(substr(md5("
    "'mg' || CAST(doc_id AS VARCHAR)),1,13),'.'),"
    " c -> cast(strpos('0123456789abcdef', c) - 1 as bigint)),"
    f" (a,b) -> a*16+b) % {MG_SHARDS})"
)


@gate(
    "mg_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT {_MG_D_SHARD} AS shard, unnest({duckdb_tokens('text')}) AS term
      FROM documents
    ),
    counts AS (
      SELECT shard, term, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY shard, term
    ),
    ranked AS (
      SELECT shard, term, cnt,
             row_number() OVER (PARTITION BY shard ORDER BY cnt DESC, term ASC) AS rk
      FROM counts
    ),
    thresholds AS (
      SELECT shard,
             CAST(max(CASE WHEN rk = {MG_CAP + 1} THEN cnt ELSE 0 END) AS BIGINT) AS t_s
      FROM ranked GROUP BY shard
    ),
    summary AS (
      SELECT r.shard, r.term, CAST(r.cnt - t.t_s AS BIGINT) AS residual, t.t_s
      FROM ranked r JOIN thresholds t ON r.shard = t.shard
      WHERE r.rk <= {MG_CAP} AND r.cnt - t.t_s > 0
    ),
    err AS (SELECT CAST(sum(t_s) AS BIGINT) AS err_bound FROM thresholds)
    SELECT term, CAST(sum(residual) AS BIGINT) AS est, err.err_bound
    FROM summary CROSS JOIN err
    GROUP BY term, err.err_bound
    ORDER BY est DESC, term ASC
    LIMIT {MG_TOPK}
    """,
)
def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Misra-Gries heavy hitters (Agarwal et al. PODS'12,
    operators/sketch.mg_shard_summaries): logical h52 shards → per-shard
    top-`capacity` summaries reduced by the (capacity+1)-th count →
    summation merge with the reported additive error bound Σ t_s.  The
    post-shard state is ≤ shards×capacity rows (broadcastable at any
    corpus size); the only wide shuffle is the map-side-combined
    (shard, term) count — the exact-GROUP-BY substitute at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id"), F.explode(F.expr(tokens_sql("`text`"))).alias("term")
    )
    summaries = mg_shard_summaries(
        tok, F.col("doc_id"), F.col("term"), n_shards=MG_SHARDS, capacity=MG_CAP
    )
    return mg_heavy_hitters(summaries, summaries, top_k=MG_TOPK)


# ---------------------------------------------------------------------------
# Leave-fold-out cross-validation of the learned kv index (A1's group-mean
# model, reference src/encoder.py group aggregates) WITHOUT k refits: per
# (key, fold) partial sums + per-key totals give every fold's
# leave-that-fold-out model as (total − fold) / (cnt_total − cnt_fold) —
# one groupBy + one broadcast join regardless of k.  Exact integer cents
# end-to-end; only the final RMSE takes a sqrt (6dp-rounded).

CV_FOLDS = 5
_CV_RID = "l_orderkey * 10 + l_linenumber"
_CV_D_FOLD = (
    "(list_reduce(list_transform(regexp_extract_all(substr(md5("
    f"'fold' || CAST({_CV_RID} AS VARCHAR)),1,13),'.'),"
    " c -> cast(strpos('0123456789abcdef', c) - 1 as bigint)),"
    f" (a,b) -> a*16+b) % {CV_FOLDS})"
)


@gate(
    "cv_leave_fold_out",
    oracle=f"""
    WITH base AS (
      SELECT l_partkey % 50 AS key, {_CV_D_FOLD} AS fold,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y_cents
      FROM lineitem
    ),
    kf AS (
      SELECT key, fold, CAST(sum(y_cents) AS BIGINT) AS s_kf,
             CAST(count(*) AS BIGINT) AS n_kf
      FROM base GROUP BY key, fold
    ),
    tot AS (
      SELECT key, CAST(sum(s_kf) AS BIGINT) AS ts, CAST(sum(n_kf) AS BIGINT) AS tn
      FROM kf GROUP BY key
    ),
    model AS (
      SELECT kf.key, kf.fold,
             CAST(floor(CAST(tot.ts - kf.s_kf AS DOUBLE) /
                        CAST(tot.tn - kf.n_kf AS DOUBLE) + 0.5) AS BIGINT)
               AS pred_cents
      FROM kf JOIN tot ON kf.key = tot.key
      WHERE tot.tn - kf.n_kf > 0
    ),
    scored AS (
      SELECT b.fold, b.y_cents - m.pred_cents AS err
      FROM base b JOIN model m ON b.key = m.key AND b.fold = m.fold
    )
    SELECT CAST(fold AS BIGINT) AS fold, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(err * err) AS BIGINT) AS sse,
           CAST(sum(abs(err)) AS BIGINT) AS sae,
           CAST(round(sqrt(CAST(sum(err * err) AS DOUBLE) / count(*)), 6)
                AS DOUBLE) AS rmse_cents
    FROM scored GROUP BY fold ORDER BY fold
    """,
)
def q_cv_leave_fold_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-fold CV of the group-mean learned index via the total-minus-fold
    identity: per-(key,fold) integer-cent sums roll up to per-key totals,
    and fold f's held-out model is (ts−s_kf)/(tn−n_kf) — the k refits
    collapse into ONE aggregation + a broadcast join of the 250-row model
    relation.  Per-fold SSE/SAE stay exact BIGINTs."""
    from inferdb_spark.functions.hashing import h52

    li = load_table(spark, sf_dir, "lineitem")
    rid = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long")
    base = li.select(
        (F.col("l_partkey") % 50).alias("key"),
        (h52(F.concat(F.lit("fold"), rid.cast("string"))) % CV_FOLDS).alias("fold"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y_cents"),
    )
    kf = base.groupBy("key", "fold").agg(
        F.sum("y_cents").alias("s_kf"), F.count(F.lit(1)).alias("n_kf")
    )
    tot = kf.groupBy("key").agg(
        F.sum("s_kf").alias("ts"), F.sum("n_kf").alias("tn")
    )
    model = (
        kf.join(tot, "key")
        .filter((F.col("tn") - F.col("n_kf")) > 0)
        .select(
            "key",
            "fold",
            F.floor(
                (F.col("ts") - F.col("s_kf")).cast("double")
                / (F.col("tn") - F.col("n_kf")).cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("pred_cents"),
        )
    )
    scored = base.join(F.broadcast(model), ["key", "fold"]).withColumn(
        "err", F.col("y_cents") - F.col("pred_cents")
    )
    return (
        scored.groupBy(F.col("fold").cast("long").alias("fold"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("err") * F.col("err")).cast("long").alias("sse"),
            F.sum(F.abs(F.col("err"))).cast("long").alias("sae"),
        )
        .withColumn(
            "rmse_cents",
            F.round(
                F.sqrt(F.col("sse").cast("double") / F.col("n").cast("double")), 6
            ).cast("double"),
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# Split conformal prediction intervals (Vovk; Lei et al. JASA'18): the
# distribution-free finite-sample wrapper around the learned index's point
# predictions.  q̂ is the ⌈(n_c+1)(1−α)⌉-th smallest calibration residual —
# an exact integer order statistic.  Because k is ~90% of the calibration
# split, orderBy+limit(k) (the round-5 form) funnels ~n_c values through
# one merge task — a scale cliff at billions of calibration rows.  Round 6
# replaces it with count-bisection over the BIGINT residual domain
# (operators/order_stats.exact_kth_smallest): O(log_4096(range)) aggregate
# passes, ≤4096 driver rows per pass, identical value.

CP_ALPHA_NUM = 9  # 1−α = 9/10
_CP_D_H = (
    "(list_reduce(list_transform(regexp_extract_all(substr(md5("
    f"'cp' || CAST({_CV_RID} AS VARCHAR)),1,13),'.'),"
    " c -> cast(strpos('0123456789abcdef', c) - 1 as bigint)),"
    " (a,b) -> a*16+b) % 100)"
)


@gate(
    "conformal_interval",
    oracle=f"""
    WITH base AS (
      SELECT CAST({_CV_RID} AS BIGINT) AS row_id, {_CP_D_H} AS h,
             l_partkey % 50 AS key,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y_cents
      FROM lineitem
    ),
    model AS (
      SELECT key, CAST(floor(CAST(sum(y_cents) AS DOUBLE) /
                             CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT)
               AS pred_cents
      FROM base WHERE h < 60 GROUP BY key
    ),
    calib AS (
      SELECT b.row_id, abs(b.y_cents - m.pred_cents) AS r
      FROM base b JOIN model m ON b.key = m.key
      WHERE b.h >= 60 AND b.h < 80
    ),
    kk AS (
      SELECT ({CP_ALPHA_NUM} * (count(*) + 1) + 9) // 10 AS k FROM calib
    ),
    ranked AS (
      SELECT r, row_number() OVER (ORDER BY r ASC, row_id ASC) AS rn FROM calib
    ),
    qhat AS (
      SELECT CAST(max(r) AS BIGINT) AS q FROM ranked CROSS JOIN kk
      WHERE rn <= kk.k
    )
    SELECT b.row_id, m.pred_cents,
           CAST(m.pred_cents - q.q AS BIGINT) AS lo,
           CAST(m.pred_cents + q.q AS BIGINT) AS hi,
           CAST(CASE WHEN b.y_cents BETWEEN m.pred_cents - q.q
                     AND m.pred_cents + q.q THEN 1 ELSE 0 END AS BIGINT)
             AS covered
    FROM base b JOIN model m ON b.key = m.key CROSS JOIN qhat q
    WHERE b.h >= 80
    ORDER BY b.row_id
    """,
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal intervals around the group-mean index: train/calib/
    test by portable h52 split (60/20/20), q̂ = exact k-th smallest
    calibration residual with k = ⌈(n_c+1)·0.9⌉ computed in integer
    arithmetic, intervals pred ± q̂ on the test split.  ~90% finite-sample
    coverage guaranteed distribution-free; every output cell is BIGINT.

    q̂ is fetched by count-bisection (exact_kth_smallest), never by
    sorting: k ≈ 0.9·n_c makes TakeOrdered merge ~n_c values in one task,
    so the selection-by-counting form is the only one that survives a
    calibration split of billions of rows."""
    from inferdb_spark.functions.hashing import h52
    from inferdb_spark.operators.order_stats import exact_kth_smallest
    from inferdb_spark.scale import spread

    li = load_table(spark, sf_dir, "lineitem")
    rid = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long")
    # spread + persist the split base: the md5 split hash is the gate's
    # dominant per-row cost and the plan referenced it FOUR times (model,
    # calib inside the eager bisection, then test + model again in the
    # final job), each a single-task pass over the one-row-group scan
    # (guide §2.2, §5.2).  One parallel pass now feeds all three splits;
    # h52 is per-row deterministic and every aggregate downstream is
    # exact-integer, so values are unchanged.
    base = (
        spread(
            li.select(
                "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
            )
        )
        .select(
            rid.alias("row_id"),
            (h52(F.concat(F.lit("cp"), rid.cast("string"))) % 100).alias("h"),
            (F.col("l_partkey") % 50).alias("key"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("y_cents"),
        )
        .persist()
    )
    model = (
        base.filter(F.col("h") < 60)
        .groupBy("key")
        .agg(
            F.floor(
                F.sum("y_cents").cast("double") / F.count(F.lit(1)).cast("double")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("pred_cents")
        )
    )
    calib = (
        base.filter((F.col("h") >= 60) & (F.col("h") < 80))
        .join(F.broadcast(model), "key")
        .select("row_id", F.abs(F.col("y_cents") - F.col("pred_cents")).alias("r"))
    )
    q_val = exact_kth_smallest(
        calib, "r", lambda n_c: (CP_ALPHA_NUM * (n_c + 1) + 9) // 10
    )
    qhat = spark.range(1).select(F.lit(int(q_val)).cast("long").alias("q"))
    return (
        base.filter(F.col("h") >= 80)
        .join(F.broadcast(model), "key")
        .crossJoin(F.broadcast(qhat))
        .select(
            "row_id",
            "pred_cents",
            (F.col("pred_cents") - F.col("q")).cast("long").alias("lo"),
            (F.col("pred_cents") + F.col("q")).cast("long").alias("hi"),
            F.col("y_cents")
            .between(F.col("pred_cents") - F.col("q"), F.col("pred_cents") + F.col("q"))
            .cast("long")
            .alias("covered"),
        )
        .orderBy("row_id")
    )


# ---------------------------------------------------------------------------
# Population-stability-index drift report (the monitoring twin of the WoE/IV
# family, iv.py — PSI is the symmetrized WoE-weighted frequency shift).
# Per-bin terms are quantized to integer micro-nats BEFORE the total, so the
# report's sum is order-independent.

PSI_BINS = 10
PSI_WIDTH = 50_000


@gate(
    "psi_drift",
    oracle=f"""
    WITH binned AS (
      SELECT least(CAST(floor(o_totalprice / {PSI_WIDTH}) AS BIGINT),
                   {PSI_BINS - 1}) AS bin,
             CASE WHEN year(o_orderdate) < 1998 THEN 0 ELSE 1 END AS period
      FROM orders
    ),
    grid AS (SELECT unnest(range(0, {PSI_BINS})) AS bin),
    cnts AS (
      SELECT g.bin,
             CAST(coalesce(sum(CASE WHEN period = 0 THEN 1 END), 0) AS BIGINT)
               AS e_cnt,
             CAST(coalesce(sum(CASE WHEN period = 1 THEN 1 END), 0) AS BIGINT)
               AS a_cnt
      FROM grid g LEFT JOIN binned b ON g.bin = b.bin
      GROUP BY g.bin
    ),
    tots AS (SELECT sum(e_cnt) AS ne, sum(a_cnt) AS na FROM cnts)
    SELECT bin, e_cnt, a_cnt,
           CAST(floor(
             (((e_cnt + 0.5) / (ne + {0.5 * PSI_BINS!r})) -
              ((a_cnt + 0.5) / (na + {0.5 * PSI_BINS!r}))) *
             ln(((e_cnt + 0.5) / (ne + {0.5 * PSI_BINS!r})) /
                ((a_cnt + 0.5) / (na + {0.5 * PSI_BINS!r}))) * 1000000.0 + 0.5
           ) AS BIGINT) AS psi_term_micro
    FROM cnts CROSS JOIN tots
    ORDER BY bin
    """,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift between pre-/post-1998 order-price distributions: fixed
    integer bin edges, 0.5-adjusted frequencies (the iv.py WoE convention,
    so empty bins stay finite), per-bin term (p−q)·ln(p/q) quantized to
    micro-nats BEFORE any summation.  One ln per BIN, not per row; the
    whole report is one groupBy over the scan + a 10-row grid join."""
    o = load_table(spark, sf_dir, "orders")
    binned = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / PSI_WIDTH).cast("long"),
            F.lit(PSI_BINS - 1),
        ).alias("bin"),
        F.when(F.year("o_orderdate") < 1998, 0).otherwise(1).alias("period"),
    )
    grid = spark.range(PSI_BINS).select(F.col("id").cast("long").alias("bin"))
    cnts = (
        grid.join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("period") == 0, 1)), F.lit(0)
            ).cast("long").alias("e_cnt"),
            F.coalesce(
                F.sum(F.when(F.col("period") == 1, 1)), F.lit(0)
            ).cast("long").alias("a_cnt"),
        )
    )
    tots = cnts.agg(
        F.sum("e_cnt").alias("ne"), F.sum("a_cnt").alias("na")
    )
    adj = float(0.5 * PSI_BINS)
    pe = (F.col("e_cnt") + 0.5) / (F.col("ne") + F.lit(adj))
    pa = (F.col("a_cnt") + 0.5) / (F.col("na") + F.lit(adj))
    return (
        cnts.crossJoin(F.broadcast(tots))
        .select(
            "bin",
            "e_cnt",
            "a_cnt",
            F.floor((pe - pa) * F.log(pe / pa) * F.lit(1000000.0) + F.lit(0.5))
            .cast("long")
            .alias("psi_term_micro"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Entity resolution END-TO-END: the record-linkage composition (Fellegi-
# Sunter shape: block -> pairwise verify -> cluster -> canonicalize) the
# dedup family supports one stage at a time.  Dirty twins are derived
# DETERMINISTICALLY inside the query (portable h52 selects 1/3 of
# customers; one name character deleted at a hashed position), so both
# engines construct the same corruption and the whole chain — including
# the connected-components fixpoint — is cross-engine verified as ONE
# relation (the e2e_curation_pipeline standard applied to ER).

_ER_H = (
    "(list_reduce(list_transform(regexp_extract_all(substr(md5("
    "'er' || CAST(c_custkey AS VARCHAR)),1,13),'.'),"
    " c -> cast(strpos('0123456789abcdef', c) - 1 as bigint)),"
    " (a,b) -> a*16+b))"
)
_ER_POS = (
    "(1 + list_reduce(list_transform(regexp_extract_all(substr(md5("
    "'pos' || CAST(c_custkey AS VARCHAR)),1,13),'.'),"
    " c -> cast(strpos('0123456789abcdef', c) - 1 as bigint)),"
    " (a,b) -> a*16+b) % length(c_name))"
)


@gate(
    "entity_resolution",
    oracle=f"""
    WITH RECURSIVE rec AS (
      SELECT CAST(c_custkey AS BIGINT) AS rec_id, c_name AS name,
             c_nationkey AS nat,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
      UNION ALL
      SELECT CAST(c_custkey + 1000000 AS BIGINT) AS rec_id,
             substr(c_name, 1, {_ER_POS} - 1) ||
               substr(c_name, {_ER_POS} + 1) AS name,
             c_nationkey AS nat,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer WHERE {_ER_H} % 3 = 0
    ),
    blocked AS (
      -- floor division, NOT '//': DuckDB '//' truncates toward zero, so a
      -- negative balance would land one band higher than Spark's floor.
      -- $10 bands: twins share the ORIGINAL's exact cents, so any width
      -- keeps 100% twin recall; narrow bands bound |block|^2 at scale
      -- (sf1 with $1000 bands was ~2B candidate pairs, $10 bands ~22M)
      SELECT rec_id, name, nat,
             CAST(floor(CAST(cents AS DOUBLE) / 1000.0) AS BIGINT) AS band
      FROM rec
    ),
    pairs AS (
      SELECT a.rec_id AS src, b.rec_id AS dst
      FROM blocked a JOIN blocked b
        ON a.nat = b.nat AND a.band = b.band AND a.rec_id < b.rec_id
      WHERE levenshtein(a.name, b.name) <= 1
    ),
    edges AS (
      SELECT src, dst FROM pairs
      UNION ALL SELECT dst AS src, src AS dst FROM pairs
      UNION ALL SELECT rec_id AS src, rec_id AS dst FROM rec
    ),
    labels(node, lbl) AS (
      SELECT rec_id, rec_id FROM rec
      UNION
      SELECT e.dst, l.lbl FROM labels l JOIN edges e ON e.src = l.node
    ),
    assign AS (
      SELECT node, CAST(min(lbl) AS BIGINT) AS component
      FROM labels GROUP BY node
    )
    SELECT a.component, CAST(count(*) AS BIGINT) AS size, r.name AS canonical_name
    FROM assign a JOIN rec r ON a.component = r.rec_id
    GROUP BY a.component, r.name
    ORDER BY a.component
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage end-to-end (operators/dedup + graph composition):
    deterministic dirty twins (1/3 of customers, one hashed-position char
    deleted) → blocking on (nation, $10 acctbal band) so the pairwise
    Levenshtein verify is quadratic only WITHIN blocks → edges at
    distance ≤ 1 → distributed connected components (min-label + path
    halving) → canonical record = lowest rec_id per cluster.  The
    oracle replays the identical chain with a recursive-CTE fixpoint.

    Scale routing (round-10 A/B, fingerprints identical at every
    point): this gate keeps the PLAIN chain — best at the benched
    scales (sf0.1: plain 3.3 s vs contracted+star 8.0 s) — while
    `resolve_entities_contracted(variant="star")` is the measured scale
    form past ~1M records (sf1: 32.8→16.4 s; sf10 clone regime, 61%
    clone candidates: 2318→44 s, two independent CC algorithms
    agreeing exactly).  The crossover is encoded as an explicit caller
    choice, not auto-derived — the round-9 CC-width refutation
    precedent."""
    from inferdb_spark.functions.hashing import h52
    from inferdb_spark.operators.entity_resolution import (
        blocked_candidate_pairs,
        cluster_summary,
        resolve_entities,
    )

    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").cast("long").alias("rec_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    hsel = h52(F.concat(F.lit("er"), F.col("c_custkey").cast("string")))
    pos = (
        F.lit(1)
        + h52(F.concat(F.lit("pos"), F.col("c_custkey").cast("string")))
        % F.length("c_name")
    )
    # twin name = original with the pos-th character deleted
    twins = (
        c.filter(hsel % 3 == 0)
        .select(
            (F.col("c_custkey") + 1000000).cast("long").alias("rec_id"),
            F.concat(
                F.substring(F.col("c_name"), F.lit(1), pos - 1),
                F.col("c_name").substr(pos + 1, F.length("c_name")),
            ).alias("name"),
            F.col("c_nationkey").alias("nat"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
    )
    rec = base.unionByName(twins)
    blocked = rec.withColumn("band", F.floor(F.col("cents") / 1000).cast("long"))
    pairs = blocked_candidate_pairs(
        blocked, ["nat", "band"], id_col="rec_id", name_col="name", max_distance=1
    )
    cc = resolve_entities(rec, pairs, id_col="rec_id")
    return cluster_summary(rec, cc, id_col="rec_id", name_col="name").orderBy(
        "component"
    )


# ---------------------------------------------------------------------------
# Quantile-regression training replay (pinball loss, transcendental-free).

QR_TAU_MICRO = 900_000  # tau = 0.9
QR_STEPS = 12
QR_LR = 1.0
QR_SCALE = 10_000
QR_FEATS = ["qn", "l_discount", "l_tax"]
QR_FEAT_SQLS = [
    "l_quantity * CAST(0.02 AS DOUBLE)",
    "l_discount",
    "l_tax",
]
QR_LABEL_SQL = "l_extendedprice * CAST(0.00001 AS DOUBLE)"


@gate(
    "quantile_regression_replay",
    oracle=None,  # set below to keep the import local
)
def q_quantile_regression_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native QUANTILE-regression training (operators/logreg.
    fit_quantile_gd): 12 fixed-step subgradient rounds on pinball loss at
    tau=0.9 — the per-row gradient is one of two exact integers, so the
    entire fit has NO transcendental calls anywhere.  Output: 6dp-rounded
    P90 prediction per row plus the under-indicator (fraction under ->
    tau as the fit converges).  Oracle replays the full fit as a CTE
    chain (the logreg_train_replay standard)."""
    from inferdb_spark.operators import logreg as LG

    li = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("qn", F.col("l_quantity") * F.lit(0.02))
        .withColumn("yq", F.col("l_extendedprice") * F.lit(0.00001))
    )
    model = LG.fit_quantile_gd(
        li, QR_FEATS, "yq", tau_micro=QR_TAU_MICRO, n_steps=QR_STEPS,
        learning_rate=QR_LR, scale=QR_SCALE,
    )
    m = model.prediction()
    # floor-snap instead of F.round(m, 6): m is a raw double, and on
    # exact-boundary cells Spark's exact-decimal HALF_UP round and
    # DuckDB's float-scaled nearbyint round disagree by 1 micro (sf0.001
    # row 5681: 1.023137 vs 1.023136).  floor(m*1e6+0.5)/1e6 runs the
    # identical float op sequence in both engines.
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("long")
        .alias("row_id"),
        (F.floor(m * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0))
        .cast("double")
        .alias("qpred"),
        (F.col("yq") <= m).cast("long").alias("under"),
    )


# register the oracle after the fact (fit_predict_quantile_sql import kept
# out of the decorator so module import stays cheap)
from inferdb_spark.operators.logreg import fit_predict_quantile_sql as _qr_sql  # noqa: E402
from inferdb_spark import gate as _gate_mod  # noqa: E402

_gate_mod._ORACLES["quantile_regression_replay"] = _qr_sql(
    QR_FEAT_SQLS,
    label_sql=QR_LABEL_SQL,
    row_id_sql="l_orderkey * 10 + l_linenumber",
    tau_micro=QR_TAU_MICRO,
    n_steps=QR_STEPS,
    learning_rate=QR_LR,
    scale=QR_SCALE,
)
