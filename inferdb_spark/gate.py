"""Correctness-gate query registry: Spark implementation + DuckDB oracle.

Every operator family from SURVEY.md §2 gets a named query over the
synthetic tables plus an equivalent ANSI-SQL oracle.  The driver runs both
at sf0.01 and hash-compares row-count + schema + values, so the pairs are
engineered for BIT-EXACT reproducibility across engines:

- monetary/metric doubles are aggregated as integer cents
  (`round(x*100)::bigint`) — integer sums are order-independent, so shuffle
  nondeterminism can't perturb the hash; division happens once at the end,
  identically on both sides;
- transcendental outputs (exp/log/acos) are rounded to 6 decimals on both
  sides (JVM vs libm agree well inside 1e-15; the rounding absorbs ULPs);
- all integer outputs are cast to BIGINT, floats to DOUBLE, on both sides;
- mode/argmax ties break to the lowest value, encoded in both dialects;
- shared literals (bin splits, coefficients, categories) are Python
  constants formatted into BOTH the Column tree and the oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions import text as TXT
from inferdb_spark.functions.datetime_fns import day_name, is_weekend, pg_isodow, week_hour
from inferdb_spark.functions.geo import spherical_distance
from inferdb_spark.functions.math_fns import crazy_exp, ln1p_compat, sigmoid
from inferdb_spark.operators.binning import BinSpec
from inferdb_spark.operators.index import KVIndex, build_index
from inferdb_spark.operators.scoring import index_score, score_linear_coo, sparsify_coo, translate

QueryFn = Callable[[SparkSession, str], DataFrame]
_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def gate(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        # registration is last-writer-wins by dict semantics, which once
        # let a new gate silently SHADOW an existing one of the same name
        # (round 5: a second isotonic_calibration).  Re-registering the
        # same function (module re-import) is fine; a DIFFERENT function
        # claiming a taken name is a hard error.
        # Identity/code compare, not __module__/__qualname__: a different
        # function can share both (module reload, copy-pasted def), and a
        # name-only compare would let it silently shadow.  Code objects
        # compare by value in CPython, so a genuine re-import of the same
        # unchanged def still passes.  The compare runs on the INNER fn
        # (unwrapped) — every cache-hygiene wrapper shares one code object.
        prev = _QUERIES.get(name)
        inner_prev = getattr(prev, "__gate_inner__", prev)
        # Unwrap the INCOMING fn too: re-registering an already-wrapped
        # gate (the idempotent case) must compare inner-vs-inner, or the
        # shared wrapper __code__ masquerades as a collision (round-8
        # regression, tests/test_r5c.py::test_gate_name_collision_raises).
        fn_inner = getattr(fn, "__gate_inner__", fn)
        if (
            prev is not None
            and inner_prev is not fn_inner
            and inner_prev.__code__ != fn_inner.__code__
        ):
            raise ValueError(
                f"gate name {name!r} already registered by "
                f"{inner_prev.__module__}.{inner_prev.__qualname__}; "
                f"{fn_inner.__module__}.{fn_inner.__qualname__} must pick a new name"
            )

        # Cache hygiene (round-7 verdict #3): gate fns legitimately pin
        # relations their OWN plan reuses (trainer replays, conformal
        # calibration) but have nowhere to release them — materialization
        # happens in the caller.  In a long single-JVM sweep (driver
        # correctness run, bench, verify) those pins accumulate across
        # hundreds of gate builds and churn the storage pool.  Each gate
        # build therefore drops every cached relation left over from the
        # PREVIOUS gate; the current gate's caches live exactly until the
        # next build.  Correctness is cache-transparent, so an earlier
        # not-yet-collected DataFrame merely recomputes.
        import functools

        @functools.wraps(fn_inner)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark.catalog.clearCache()
            return fn_inner(spark, sf_dir)

        wrapped.__gate_inner__ = fn_inner
        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _ensure_registered() -> None:
    """Import sibling gate modules so their @gate decorators run."""
    import importlib

    for mod in (
        "inferdb_spark.gate_prep",
        "inferdb_spark.gate_ml",
        "inferdb_spark.gate_extra",
        "inferdb_spark.gate_events",
        "inferdb_spark.gate_stream",
        "inferdb_spark.gate_olap",
        "inferdb_spark.gate_knn",
        "inferdb_spark.gate_trees",
        "inferdb_spark.gate_dss",
        "inferdb_spark.gate_dss2",
        "inferdb_spark.gate_sketch",
        "inferdb_spark.gate_stats",
        "inferdb_spark.gate_media",
        "inferdb_spark.gate_quality",
        "inferdb_spark.gate_optbin",
        "inferdb_spark.gate_llm3",
        "inferdb_spark.gate_llm4",
        "inferdb_spark.gate_curate",
        "inferdb_spark.gate_r5",
        "inferdb_spark.gate_r5b",
        "inferdb_spark.gate_r5c",
        "inferdb_spark.gate_r7",
        "inferdb_spark.gate_r7b",
        "inferdb_spark.gate_r7c",
        "inferdb_spark.gate_r7d",
        "inferdb_spark.gate_r7e",
        "inferdb_spark.gate_r7f",
        "inferdb_spark.gate_r7g",
        "inferdb_spark.gate_r7h",
        "inferdb_spark.gate_r7i",
        "inferdb_spark.gate_r8c",
        "inferdb_spark.gate_r8d",
        "inferdb_spark.gate_r8e",
        "inferdb_spark.gate_r8f",
        "inferdb_spark.gate_r8g",
        "inferdb_spark.gate_r8h",
        "inferdb_spark.gate_r8a",
        "inferdb_spark.gate_r8b",
        "inferdb_spark.gate_r8i",
        "inferdb_spark.gate_r8j",
        "inferdb_spark.gate_r8k",
        "inferdb_spark.gate_r9a",
        "inferdb_spark.gate_r9b",
        "inferdb_spark.gate_r9c",
        "inferdb_spark.gate_r10a",
        "inferdb_spark.gate_r10b",
        "inferdb_spark.gate_r10c",
        "inferdb_spark.gate_r10d",
        "inferdb_spark.gate_r11a",
        "inferdb_spark.gate_r11b",
        "inferdb_spark.gate_r11c",
    ):
        importlib.import_module(mod)


# Names listed here are emitted FIRST by queries()/oracle_sql().  The driver
# hash-checks only the first 50 declared queries per round, so each round's
# window is drawn from the least-previously-driver-checked gates (the full
# registry is still verified locally by tools/verify_local.py; the window
# composition — never-checked gates in-window AND oldest-staleness-first —
# is enforced by tools/driver_window_check.py; regenerate this list with
# its --emit-priority flag).  Round 7 rotation: rounds 5 and 6 both spent
# their windows on the round-5 additions, so the r01-era core (last
# hash-checked in CORRECTNESS_r01: the learned-index path, dedup/ANN/text
# headliners, TPC-H battery) is now the oldest tier and leads; any gate
# added this round is never-checked and must be inserted ABOVE this block.
_PRIORITY: list[str] = [
    "map_functions",
    "activity_islands",
    "share_of_total",
    "event_transitions",
    "stream_index_score",
    "gbt_train_predict",
    "gbt_train_logistic",
    "hist_quantile_sketch",
    "hist_quantile_merge",
    "bloom_prejoin_filter",
    "cms_term_frequency",
    "pagerank_supplier_part",
    "spearman_rank_corr",
    "mutual_information",
    "token_budget_per_source",
    "multiclass_prebin_stats",
    "optbin_categorical_stats",
    "iqr_range_prefilter",
    "semantic_dedup",
    "temperature_mixing",
    "fasttext_quality_score",
    "ivf_pq_search",
    "bpe_fit_merges",
    "bpe_segment_apply",
    "sequence_packing",
    "rrf_hybrid_retrieval",
    "zipf_law_slope",
    "hard_negative_mining",
    "k_anonymity_suppress",
    "dsir_selection",
    "rollup_revenue",
    "intersect_except",
    "range_join_bands",
    "cube_volume",
    "window_value_functions",
    "correlated_above_avg",
    "full_outer_reconcile",
    "null_safe_join",
    "grouping_sets_mix",
    "cdc_apply_changes",
    "morton_zorder_key",
    "column_profile",
    "mad_outliers",
    "try_safe_arithmetic",
    "knn_classify",
    "naive_bayes_model",
    "naive_bayes_score",
    "tree_score",
    "gbt_score_sigmoid",
    "linreg_gram",
]






def _reordered(d: dict) -> dict:
    head = {k: d[k] for k in _PRIORITY if k in d}
    head.update((k, v) for k, v in d.items() if k not in head)
    return head


def queries() -> dict[str, QueryFn]:
    _ensure_registered()
    return _reordered(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _ensure_registered()
    return _reordered(_ORACLES)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# shared literal constants (burned into BOTH dialects)
# ---------------------------------------------------------------------------

QTY_SPLITS = [10.0, 20.0, 30.0, 40.0]
DISC_SPLITS = [0.02, 0.04, 0.06, 0.08]
TAX_SPLITS = [0.02, 0.04, 0.06]

# dyadic (exactly-representable) linear model for deterministic scoring demos
LIN_COEF = {"l_quantity": 0.125, "l_discount": -4.0, "l_tax": 2.5}
LIN_INTERCEPT = -2.25

ORDER_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _bin_expr_sql(col: str, splits: list[float]) -> str:
    """DuckDB bin id: #{s : col > s}, the same ids as BinSpec.expr's CASE
    chain.  It stays a sum so that the oracle text does not change."""
    terms = " + ".join(f"CAST({col} > {s!r} AS INT)" for s in splits)
    return f"({terms})"


# ---------------------------------------------------------------------------
# 1. relational core (S1, P9, A1/A11, O1/O5)
# ---------------------------------------------------------------------------


@gate(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE)                                   AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)   AS sum_base_cents,
           CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
           CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*(1+l_tax)*1000000) AS BIGINT)) AS BIGINT) AS sum_charge_e6,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / count(*) / 100 AS avg_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter + groupBy + multi-agg (A1/A11/P9).

    `.explain()`: PushedFilters on l_shipdate, partial (map-side) HashAggregate
    before the exchange — the canonical scale-out aggregation plan.
    """
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    charge_e6 = F.round(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 1000000
    ).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(disc_e4).alias("sum_disc_e4"),
            F.sum(charge_e6).alias("sum_charge_e6"),
            (F.sum(cents).cast("double") / F.count("*") / 100).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@gate(
    "filter_project",
    oracle="""
    SELECT l_orderkey*10 + l_linenumber AS row_id,
           CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT) AS revenue_e4,
           CAST(l_quantity AS DOUBLE) AS qty
    FROM lineitem
    WHERE l_quantity > 45 AND l_discount >= 0.05
    """,
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + pushed filter + arithmetic projection (S1/P9).  The filter and
    the 4-column ReadSchema both push to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 45) & (F.col("l_discount") >= 0.05)).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        .cast("long")
        .alias("revenue_e4"),
        F.col("l_quantity").cast("double").alias("qty"),
    )


@gate(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT (O1/O5) with a total tiebreak order.  Spark executes
    this as TakeOrderedAndProject — no global sort materialization."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        )
    )


# ---------------------------------------------------------------------------
# 2. joins (J1, J3, J6, J7, J8, J10) and set ops (U2, U3)
# ---------------------------------------------------------------------------


@gate(
    "join_enrich_revenue",
    oracle="""
    SELECT p.p_brand, n.n_name,
           CAST(sum(CAST(round(l.l_extendedprice*(1-l.l_discount)*10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    GROUP BY p.p_brand, n.n_name
    """,
)
def q_join_enrich_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema enrichment: fact ⋈ three broadcast dims → groupBy (J1).
    All three dims broadcast (they are tiny at any SF since dims grow slower
    than facts) — the fact table is read once, no fact-side shuffle until
    the final aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("p_brand", "n_name")
        .agg(F.sum(rev).alias("revenue_e4"), F.count("*").alias("n_items"))
    )


@gate(
    "semi_anti_customers",
    oracle="""
    WITH buyers AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000)
    SELECT c.c_mktsegment,
           CAST(sum(CASE WHEN b.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_big_buyers,
           CAST(sum(CASE WHEN b.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)     AS n_others
    FROM customer c LEFT JOIN buyers b ON c.c_custkey = b.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join (J8/J10/U2) in one result: per segment, customers
    with/without a big order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi").groupBy(
        "c_mktsegment"
    ).agg(F.count("*").alias("n_big_buyers"))
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").groupBy(
        "c_mktsegment"
    ).agg(F.count("*").alias("n_others"))
    return semi.join(anti, "c_mktsegment", "full").na.fill(
        0, ["n_big_buyers", "n_others"]
    )


@gate(
    "cross_join_domains",
    oracle="""
    SELECT r.r_name, s.seg, CAST(count(*) AS BIGINT) AS n
    FROM region r
    CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer) s
    GROUP BY r.r_name, s.seg
    """,
)
def q_cross_join_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of small domains (J7/U1) — the reference's
    all-possible-paths enumeration (src/transpiler.py:930-933)."""
    r = _t(spark, sf_dir, "region")
    segs = _t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg")
    ).distinct()
    return r.crossJoin(F.broadcast(segs)).groupBy("r_name", "seg").agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# 3. window / mode / argmax (W1-W3, A2, O4)
# ---------------------------------------------------------------------------


@gate(
    "group_mode_majority",
    oracle="""
    WITH c AS (
      SELECT o_custkey % 100 AS bucket, o_orderpriority AS value, count(*) AS cnt
      FROM orders GROUP BY 1, 2
    ), m AS (SELECT bucket, max(cnt) AS mc FROM c GROUP BY 1)
    SELECT CAST(c.bucket AS BIGINT) AS bucket, min(c.value) AS majority
    FROM c JOIN m ON c.bucket = m.bucket AND c.cnt = m.mc
    GROUP BY 1
    """,
)
def q_group_mode_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority vote with lowest-value tiebreak (A2) — the classification
    kv-build aggregation (src/transpiler.py:986-992)."""
    o = _t(spark, sf_dir, "orders")
    counted = (
        o.groupBy((F.col("o_custkey") % 100).alias("bucket"), F.col("o_orderpriority").alias("value"))
        .agg(F.count("*").alias("cnt"))
    )
    return counted.groupBy("bucket").agg(
        F.min_by(
            F.col("value"),
            F.struct((-F.col("cnt")).alias("nc"), F.col("value").alias("v")),
        ).alias("majority")
    )


@gate(
    "window_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey % 10 AS bucket, o_orderkey,
             CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
             row_number() OVER (PARTITION BY o_custkey % 10
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via window rank (W2) with a total order."""
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy((F.col("o_custkey") % 10)).orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            (F.col("o_custkey") % 10).alias("bucket"),
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@gate(
    "argmax_price_part",
    oracle="""
    WITH m AS (SELECT p_brand, max(p_retailprice) AS mp FROM part GROUP BY 1)
    SELECT p.p_brand, CAST(min(p.p_partkey) AS BIGINT) AS best_part
    FROM part p JOIN m ON p.p_brand = m.p_brand AND p.p_retailprice = m.mp
    GROUP BY p.p_brand
    """,
)
def q_argmax_price_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / arg_max (O4) with deterministic lowest-key tiebreak."""
    p = _t(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.max_by(
            F.col("p_partkey"), F.struct(F.col("p_retailprice"), -F.col("p_partkey"))
        ).alias("best_part")
    )


# ---------------------------------------------------------------------------
# 4. the learned index pipeline (P5, A1, J1, J2, A8/A9)
# ---------------------------------------------------------------------------

_IDX_ORACLE_COMMON = f"""
    WITH base AS (
      SELECT l_orderkey*10 + l_linenumber AS row_id,
             l_orderkey % 5 <> 0 AS is_train,
             {_bin_expr_sql('l_quantity', QTY_SPLITS)} AS b1,
             {_bin_expr_sql('l_discount', DISC_SPLITS)} AS b2,
             {_bin_expr_sql('l_tax', TAX_SPLITS)} AS b3,
             CAST(round(l_extendedprice*100) AS BIGINT) AS cents
      FROM lineitem
    ),
    train AS (SELECT * FROM base WHERE is_train),
    test  AS (SELECT * FROM base WHERE NOT is_train),
    -- one aggregation of the train scan; every coarser level derives from it
    kvstats AS (
      SELECT b1, b2, b3, CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      FROM train GROUP BY b1, b2, b3
    ),
    kv AS (
      SELECT concat_ws('.', b1, b2, b3) AS key, CAST(s AS DOUBLE) / c AS value
      FROM kvstats
    ),
    p2 AS (
      SELECT concat_ws('.', b1, b2) AS prefix_2,
             CAST(sum(s) AS DOUBLE) / sum(c) AS value
      FROM kvstats GROUP BY b1, b2
    ),
    p1 AS (
      SELECT CAST(b1 AS VARCHAR) AS prefix_1,
             CAST(sum(s) AS DOUBLE) / sum(c) AS value
      FROM kvstats GROUP BY b1
    ),
    gl AS (SELECT CAST(sum(s) AS DOUBLE) / sum(c) AS g FROM kvstats),
    scored AS (
      SELECT t.row_id,
             coalesce(kv.value, p2.value, p1.value, gl.g) / 100 AS prediction,
             CAST(t.cents AS DOUBLE) / 100 AS actual
      FROM test t
      LEFT JOIN kv ON concat_ws('.', t.b1, t.b2, t.b3) = kv.key
      LEFT JOIN p2 ON concat_ws('.', t.b1, t.b2) = p2.prefix_2
      LEFT JOIN p1 ON CAST(t.b1 AS VARCHAR) = p1.prefix_1
      CROSS JOIN gl
    )
"""


# the index's bin specs: the oracle's b1, b2, b3
IDX_SPECS = [
    BinSpec("l_quantity", splits=QTY_SPLITS),
    BinSpec("l_discount", splits=DISC_SPLITS),
    BinSpec("l_tax", splits=TAX_SPLITS),
]


def _idx_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem with the oracle's row id, train flag and target in integer
    cents (exact sums, one division at the end on both sides)."""
    return _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        (F.col("l_orderkey") % 5 != 0).alias("is_train"),
        *(s.column for s in IDX_SPECS),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )


def _idx_build(rows: DataFrame) -> KVIndex:
    """The shipped build over the train rows, row-weighted prefix values
    (exact integer arithmetic; operators/index.py for the unweighted
    reference-parity mode)."""
    return build_index(
        rows.filter("is_train"), IDX_SPECS, "cents", task="regression", agg_mode="rows"
    )


@gate(
    "index_translate",
    oracle=f"""
    WITH base AS (
      SELECT l_orderkey*10 + l_linenumber AS row_id,
             {_bin_expr_sql('l_quantity', QTY_SPLITS)} AS b1,
             {_bin_expr_sql('l_discount', DISC_SPLITS)} AS b2,
             {_bin_expr_sql('l_tax', TAX_SPLITS)} AS b3
      FROM lineitem
    )
    SELECT row_id, concat_ws('.', b1, b2, b3) AS key FROM base
    """,
)
def q_index_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `{x}_translate()` stage (P5): bin-encode + compound key as one
    narrow projection (src/transpiler.py:1101-1274)."""
    return translate(_idx_rows(spark, sf_dir), IDX_SPECS).select("row_id", "key")


@gate(
    "index_kv_build",
    oracle=f"""
    {_IDX_ORACLE_COMMON}
    SELECT key, value / 100 AS value FROM kv
    """,
)
def q_index_kv_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kv build: groupBy(key) -> mean (A1, src/transpiler.py:993-996)."""
    kv = _idx_build(_idx_rows(spark, sf_dir)).kv
    return kv.select("key", (F.col("value") / 100).alias("value"))


@gate(
    "index_score",
    oracle=f"""
    {_IDX_ORACLE_COMMON}
    SELECT row_id, prediction, actual FROM scored
    """,
)
def q_index_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full index scoring: build, then translate → exact key → prefix
    fallback → global, the Spark redesign of exact-match + prefix_search
    (src/transpiler.py:1054-1099, sql_scripts/prefix_search.sql) as the
    one projection over the dense lookup table."""
    rows = _idx_rows(spark, sf_dir)
    scored = index_score(rows.filter(~F.col("is_train")), _idx_build(rows))
    return scored.select(
        "row_id",
        (F.col("prediction") / 100).alias("prediction"),
        (F.col("cents").cast("double") / 100).alias("actual"),
    )


@gate(
    "index_score_rmsle",
    oracle=f"""
    {_IDX_ORACLE_COMMON}
    SELECT CAST(round(sqrt(sum(pow(ln(1+prediction) - ln(1+actual), 2)) / count(*)), 6) AS DOUBLE) AS rmsle
    FROM scored
    """,
)
def q_index_score_rmsle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RMSLE over the index predictions (A8, sql_scripts/lr_reg_test.sql:
    17-20), rounded to 6dp to absorb summation-order ULPs."""
    scored = q_index_score(spark, sf_dir)
    d = ln1p_compat(F.col("prediction")) - ln1p_compat(F.col("actual"))
    return scored.agg(
        F.round(F.sqrt(F.sum(d * d) / F.count("*")), 6).cast("double").alias("rmsle")
    )


# ---------------------------------------------------------------------------
# 5. preprocessing (P1-P4, P8) & scalar functions
# ---------------------------------------------------------------------------


@gate(
    "impute_mean",
    oracle="""
    WITH v AS (
      SELECT event_id, CASE WHEN event_id % 17 = 3 THEN NULL
                            ELSE CAST(round(value*100) AS BIGINT) END AS cents
      FROM events
    ),
    m AS (SELECT CAST(sum(cents) AS DOUBLE) / count(cents) AS mean_cents FROM v)
    SELECT v.event_id,
           coalesce(CAST(v.cents AS DOUBLE), m.mean_cents) / 100 AS value_imputed,
           CAST(v.cents IS NULL AS INT) AS was_null
    FROM v CROSS JOIN m
    """,
)
def q_impute_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean imputation (P1): CASE WHEN f IS NULL THEN <fitted mean>
    (src/transpiler.py:593-685).  NULLs injected deterministically; the
    fitted mean is computed in-plan (scalar aggregate ⨯ broadcast), exact
    integer arithmetic."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        F.when(F.col("event_id") % 17 == 3, None)
        .otherwise(F.round(F.col("value") * 100).cast("long"))
        .alias("cents"),
    )
    m = v.agg(
        (F.sum("cents").cast("double") / F.count("cents")).alias("mean_cents")
    )
    return v.crossJoin(F.broadcast(m)).select(
        "event_id",
        (F.coalesce(F.col("cents").cast("double"), F.col("mean_cents")) / 100).alias(
            "value_imputed"
        ),
        F.col("cents").isNull().cast("int").alias("was_null"),
    )


@gate(
    "robust_scale",
    oracle="""
    WITH q AS (
      SELECT quantile_cont(c_acctbal, 0.25) AS q1,
             quantile_cont(c_acctbal, 0.5)  AS q2,
             quantile_cont(c_acctbal, 0.75) AS q3
      FROM customer
    )
    SELECT c.c_custkey,
           CAST(round((c.c_acctbal - q.q2) / (q.q3 - q.q1), 6) AS DOUBLE) AS acctbal_scaled
    FROM customer c CROSS JOIN q
    """,
)
def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RobustScaler (P2): (f - median)/IQR with exact distributed percentile
    (src/transpiler.py:727-750).  Spark `percentile` and DuckDB
    `quantile_cont` interpolate identically (verified bit-equal)."""
    c = _t(spark, sf_dir, "customer")
    q = c.agg(
        F.expr("percentile(c_acctbal, 0.25)").alias("q1"),
        F.expr("percentile(c_acctbal, 0.5)").alias("q2"),
        F.expr("percentile(c_acctbal, 0.75)").alias("q3"),
    )
    return c.crossJoin(F.broadcast(q)).select(
        "c_custkey",
        F.round((F.col("c_acctbal") - F.col("q2")) / (F.col("q3") - F.col("q1")), 6)
        .cast("double")
        .alias("acctbal_scaled"),
    )


@gate(
    "one_hot_encode",
    oracle=f"""
    SELECT o_orderkey,
           {", ".join(f"CAST(o_orderpriority = '{c}' AS INT) AS oh_{i}" for i, c in enumerate(ORDER_PRIORITIES))}
    FROM orders
    """,
)
def q_one_hot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot projection (P3): CASE WHEN f='cat' THEN 1 ELSE 0
    (src/transpiler.py:752-766)."""
    o = _t(spark, sf_dir, "orders")
    cols = [F.col("o_orderkey")]
    for i, cat in enumerate(ORDER_PRIORITIES):
        cols.append((F.col("o_orderpriority") == cat).cast("int").alias(f"oh_{i}"))
    return o.select(*cols)


@gate(
    "coo_sparsify",
    oracle="""
    WITH wide AS (
      SELECT l_orderkey*10 + l_linenumber AS row_id,
             [l_quantity, l_discount * 100, l_tax * 100] AS arr
      FROM lineitem
    )
    SELECT row_id, CAST(i - 1 AS INT) AS col_id, CAST(arr[i] AS DOUBLE) AS val
    FROM wide, unnest(generate_series(1, 3)) AS t(i)
    WHERE arr[i] <> 0
    """,
)
def q_coo_sparsify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COO sparsification (P8): posexplode + val<>0 filter — the reference's
    unnest WITH ORDINALITY (src/transpiler.py:1493-1503)."""
    li = _t(spark, sf_dir, "lineitem")
    arr = F.array(
        F.col("l_quantity"),
        F.col("l_discount") * 100,
        F.col("l_tax") * 100,
    )
    return (
        li.select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
            F.posexplode(arr).alias("col_id", "val"),
        )
        .filter(F.col("val") != 0)
        .select("row_id", F.col("col_id").cast("int"), F.col("val").cast("double"))
    )


@gate(
    "crazy_exp_sigmoid",
    oracle=f"""
    SELECT l_orderkey*10 + l_linenumber AS row_id,
           CAST(round(CASE WHEN z < 0 THEN 0
                           WHEN z < 700 THEN exp(z)
                           ELSE exp(700.0) END, 6) AS DOUBLE) AS cexp,
           CAST(round(1.0 / (1.0 + exp(-z)), 6) AS DOUBLE) AS sig,
           CAST(round(greatest(0.0, z), 6) AS DOUBLE) AS relu
    FROM (SELECT l_orderkey, l_linenumber,
                 l_quantity * {LIN_COEF['l_quantity']!r} + l_discount * {LIN_COEF['l_discount']!r}
                 + l_tax * {LIN_COEF['l_tax']!r} + {LIN_INTERCEPT!r} AS z
          FROM lineitem)
    """,
)
def q_crazy_exp_sigmoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function parity: crazy_exp (sql_scripts/crazy_exp.sql), sigmoid,
    ReLU over a dyadic linear combination."""
    li = _t(spark, sf_dir, "lineitem")
    z = (
        F.col("l_quantity") * LIN_COEF["l_quantity"]
        + F.col("l_discount") * LIN_COEF["l_discount"]
        + F.col("l_tax") * LIN_COEF["l_tax"]
        + F.lit(LIN_INTERCEPT)
    )
    d = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        z.alias("z"),
    )
    return d.select(
        "row_id",
        F.round(crazy_exp(F.col("z")), 6).cast("double").alias("cexp"),
        F.round(sigmoid(F.col("z")), 6).cast("double").alias("sig"),
        F.round(F.greatest(F.lit(0.0), F.col("z")), 6).cast("double").alias("relu"),
    )


# ---------------------------------------------------------------------------
# 6. datetime & geo featurizers (§2.8)
# ---------------------------------------------------------------------------


@gate(
    "datetime_extract",
    oracle="""
    SELECT event_id,
           CAST(hour(ts) AS BIGINT)   AS hour,
           CAST(minute(ts) AS BIGINT) AS minute,
           CAST(month(ts) AS BIGINT)  AS month,
           CAST(weekofyear(ts) AS BIGINT) AS week,
           CAST(isodow(ts) AS BIGINT) AS isodow,
           dayname(ts) AS day_name,
           CAST(isodow(ts) IN (6, 7) AS INT) AS is_weekend,
           CAST((isodow(ts) - 1) * 24 + hour(ts) AS BIGINT) AS week_hour
    FROM events
    """,
)
def q_datetime_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG-semantics datetime family (create_featurizer_pg.py:236-241,
    query_integration.sql:9-12), incl. the dayofweek normalization."""
    ev = _t(spark, sf_dir, "events")
    ts = F.col("ts")
    return ev.select(
        "event_id",
        F.hour(ts).cast("long").alias("hour"),
        F.minute(ts).cast("long").alias("minute"),
        F.month(ts).cast("long").alias("month"),
        F.weekofyear(ts).cast("long").alias("week"),
        pg_isodow(ts).cast("long").alias("isodow"),
        day_name(ts).alias("day_name"),
        is_weekend(ts).alias("is_weekend"),
        week_hour(ts).cast("long").alias("week_hour"),
    )


@gate(
    "geo_distance",
    oracle="""
    WITH pts AS (
      SELECT s_suppkey,
             40.0 + (s_suppkey % 100) * 0.01  AS lat1, -74.0 + (s_suppkey % 50) * 0.02  AS lon1,
             40.5 + (s_suppkey % 80) * 0.005  AS lat2, -73.5 + (s_suppkey % 60) * 0.015 AS lon2
      FROM supplier
    )
    SELECT s_suppkey,
           CAST(round(CASE WHEN lat1 = lat2 AND lon1 = lon2 THEN 0.0
                ELSE degrees(acos(least(1.0, greatest(-1.0,
                     sin(radians(lat1))*sin(radians(lat2))
                   + cos(radians(lat1))*cos(radians(lat2))*cos(radians(lon1-lon2))))))
                     * 60 * 1.1515 * 1.609344 END, 6) AS DOUBLE) AS dist_km
    FROM pts
    """,
)
def q_geo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical law-of-cosines distance (sql_scripts/geo_distance.sql:30-60)
    on synthesized coordinates."""
    s = _t(spark, sf_dir, "supplier")
    pts = s.select(
        "s_suppkey",
        (F.lit(40.0) + (F.col("s_suppkey") % 100) * 0.01).alias("lat1"),
        (F.lit(-74.0) + (F.col("s_suppkey") % 50) * 0.02).alias("lon1"),
        (F.lit(40.5) + (F.col("s_suppkey") % 80) * 0.005).alias("lat2"),
        (F.lit(-73.5) + (F.col("s_suppkey") % 60) * 0.015).alias("lon2"),
    )
    return pts.select(
        "s_suppkey",
        F.round(
            spherical_distance(
                F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"), "km"
            ),
            6,
        )
        .cast("double")
        .alias("dist_km"),
    )


# ---------------------------------------------------------------------------
# 7. model scoring as relational algebra (J4/A5, A7)
# ---------------------------------------------------------------------------


@gate(
    "linear_score_dense",
    oracle=f"""
    SELECT l_orderkey*10 + l_linenumber AS row_id,
           CAST(round(1.0 / (1.0 + exp(-(l_quantity * {LIN_COEF['l_quantity']!r}
                + l_discount * {LIN_COEF['l_discount']!r}
                + l_tax * {LIN_COEF['l_tax']!r} + {LIN_INTERCEPT!r}))), 6) AS DOUBLE) AS prediction
    FROM lineitem
    """,
)
def q_linear_score_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense logistic scoring as ONE projection (the Spark-optimal form of
    the reference's coefficient-join, src/transpiler.py:1603-1694): zero
    shuffle, fully codegen'd."""
    from inferdb_spark.operators.scoring import score_linear_dense

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        "l_quantity", "l_discount", "l_tax",
    )
    cols = list(LIN_COEF)
    scored = score_linear_dense(
        li, cols, [LIN_COEF[c] for c in cols], LIN_INTERCEPT, link="sigmoid"
    )
    return scored.select(
        "row_id", F.round(F.col("prediction"), 6).cast("double").alias("prediction")
    )


@gate(
    "linear_score_coo",
    oracle=f"""
    WITH coo AS (
      SELECT l_orderkey*10 + l_linenumber AS row_id, 0 AS col_id, l_quantity AS val FROM lineitem WHERE l_quantity <> 0
      UNION ALL
      SELECT l_orderkey*10 + l_linenumber, 1, l_discount FROM lineitem WHERE l_discount <> 0
      UNION ALL
      SELECT l_orderkey*10 + l_linenumber, 2, l_tax FROM lineitem WHERE l_tax <> 0
    ),
    coef AS (
      SELECT * FROM (VALUES (0, {LIN_COEF['l_quantity']!r}), (1, {LIN_COEF['l_discount']!r}),
                            (2, {LIN_COEF['l_tax']!r})) AS t(col_id, coef)
    )
    SELECT coo.row_id,
           CAST(round(sum(coo.val * coef.coef) + {LIN_INTERCEPT!r}, 6) AS DOUBLE) AS score
    FROM coo JOIN coef USING (col_id)
    GROUP BY coo.row_id
    """,
)
def q_linear_score_coo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity sparse scoring: COO ⋈ broadcast(coefficients) →
    groupBy(row) dot product (src/transpiler.py:1623-1629).

    Determinism note: the products are dyadic-weight × data doubles summed
    over ≤3 terms — Spark's partial aggregation always folds col_id order
    within a row's single partition, and with ≤3 exact addends the sum is
    order-insensitive here (weights chosen dyadic; rounding 6dp belt+braces).
    """
    cols = list(LIN_COEF)
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"), *cols
    )
    coef = spark.createDataFrame(
        [(i, LIN_COEF[c]) for i, c in enumerate(cols)], "col_id int, coef double"
    )
    scored = score_linear_coo(sparsify_coo(li, cols), coef, LIN_INTERCEPT)
    return scored.select(
        "row_id", F.round(F.col("prediction"), 6).cast("double").alias("score")
    )


@gate(
    "classification_metrics",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN 1.0 / (1.0 + exp(-(l_quantity * {LIN_COEF['l_quantity']!r}
                 + l_discount * {LIN_COEF['l_discount']!r}
                 + l_tax * {LIN_COEF['l_tax']!r} + {LIN_INTERCEPT!r}))) >= 0.5 THEN 1 ELSE 0 END AS p,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS t
      FROM lineitem
    ),
    cm AS (
      SELECT CAST(sum(CASE WHEN p=1 AND t=1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN p=1 AND t=0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN p=0 AND t=1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN p=0 AND t=0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           CAST(round(CAST(tp + tn AS DOUBLE) / (tp+fp+fn+tn), 6) AS DOUBLE) AS accuracy,
           CAST(round(CASE WHEN tp+fp = 0 THEN 0 ELSE CAST(tp AS DOUBLE)/(tp+fp) END, 6) AS DOUBLE) AS precision,
           CAST(round(CASE WHEN tp+fn = 0 THEN 0 ELSE CAST(tp AS DOUBLE)/(tp+fn) END, 6) AS DOUBLE) AS recall
    FROM cm
    """,
)
def q_classification_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + accuracy/precision/recall in ONE aggregation pass
    (A7, src/transpiler.py:253-273)."""
    li = _t(spark, sf_dir, "lineitem")
    z = (
        F.col("l_quantity") * LIN_COEF["l_quantity"]
        + F.col("l_discount") * LIN_COEF["l_discount"]
        + F.col("l_tax") * LIN_COEF["l_tax"]
        + F.lit(LIN_INTERCEPT)
    )
    scored = li.select(
        F.when(sigmoid(z) >= 0.5, 1).otherwise(0).alias("p"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("t"),
    )
    p, t = F.col("p"), F.col("t")
    cm = scored.agg(
        F.sum(F.when((p == 1) & (t == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((p == 1) & (t == 0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((p == 0) & (t == 1), 1).otherwise(0)).alias("fn"),
        F.sum(F.when((p == 0) & (t == 0), 1).otherwise(0)).alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    return cm.select(
        tp, fp, fn, tn,
        F.round((tp + tn).cast("double") / (tp + fp + fn + tn), 6).cast("double").alias("accuracy"),
        F.round(
            F.when(tp + fp == 0, 0.0).otherwise(tp.cast("double") / (tp + fp)), 6
        ).cast("double").alias("precision"),
        F.round(
            F.when(tp + fn == 0, 0.0).otherwise(tp.cast("double") / (tp + fn)), 6
        ).cast("double").alias("recall"),
    )


# ---------------------------------------------------------------------------
# 8. text / dedup data-prep (documents table)
# ---------------------------------------------------------------------------


@gate(
    "dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL  -- deterministic duplicate injection so the dedup path is exercised
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
    )
    SELECT md5(text) AS text_hash,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM corpus
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep lowest id.  At scale this
    is one shuffle on the 32-char hash — the canonical dedup plan.  The test
    corpus has no natural dupes, so we inject them deterministically."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return (
        corpus.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@gate(
    "text_quality",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, text,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS n
      FROM documents
    ), tok AS (
      SELECT doc_id, text,
             CASE WHEN length(n) = 0 THEN [] ELSE string_split(n, ' ') END AS toks
      FROM norm
    )
    SELECT doc_id,
           CAST(length(toks) AS BIGINT) AS n_tokens,
           CAST(round(CASE WHEN length(toks) > 0
                THEN CAST(length(list_filter(toks, w -> list_contains({TXT.STOPWORDS!r}, w))) AS DOUBLE) / length(toks)
                ELSE 0.0 END, 6) AS DOUBLE) AS stopword_ratio,
           CAST(round(CASE WHEN length(text) > 0
                THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
                ELSE 0.0 END, 6) AS DOUBLE) AS punct_ratio,
           CAST(round(CASE WHEN length(toks) > 0
                THEN CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / length(toks)
                ELSE 0.0 END, 6) AS DOUBLE) AS mean_word_len
    FROM tok
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: token count, stopword ratio, punctuation ratio,
    mean word length — all JVM-side expressions (no UDF).  Uses the fused
    text_stats struct (one normalize + one token pass for the whole panel)."""
    d = _t(spark, sf_dir, "documents")
    st = d.select("doc_id", F.col("text"), TXT.text_stats("`text`").alias("s"))
    n = F.col("s.n_tokens")
    return st.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(
            F.when(n > 0, F.col("s.stopword_hits").cast("double") / n).otherwise(0.0), 6
        ).cast("double").alias("stopword_ratio"),
        F.round(TXT.punct_ratio(F.col("text")), 6).cast("double").alias("punct_ratio"),
        F.round(
            F.when(n > 0, F.col("s.char_sum").cast("double") / n).otherwise(0.0), 6
        ).cast("double").alias("mean_word_len"),
    )


_ENTRY_DOC = __doc__
