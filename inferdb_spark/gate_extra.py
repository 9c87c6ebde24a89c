"""Gate queries: additional coverage — wordcount-at-scale, multiclass
metrics, distinct path counting, embedding near-dup pairs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.text import duckdb_tokens
from inferdb_spark.gate import QTY_SPLITS, _bin_expr_sql, gate
from inferdb_spark.gate_ml import MC_B, MC_COEF, _mc_scores_sql
from inferdb_spark.gate_prep import _PLANES_SQL, PLANES
from inferdb_spark.operators import similarity as SIM
from inferdb_spark.operators.binning import BinSpec


@gate(
    "token_histogram",
    oracle=f"""
    WITH tok AS (SELECT unnest({duckdb_tokens('text')}) AS token FROM documents)
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM tok GROUP BY token
    HAVING count(*) >= 10
    """,
)
def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary histogram: explode tokens → count (the canonical
    shuffle-on-token wordcount; map-side partial aggregation keeps the
    shuffle proportional to VOCABULARY, not corpus size)."""
    from inferdb_spark.functions.text import tokens_sql

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.expr(tokens_sql("`text`"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 10)
    )


@gate(
    "multiclass_metrics",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN s0 >= s1 AND s0 >= s2 THEN 0
                  WHEN s1 >= s2 THEN 1 ELSE 2 END AS p,
             CAST(l_linenumber % 3 AS INT) AS t
      FROM (SELECT l_linenumber, {_mc_scores_sql} FROM lineitem)
    ),
    pred_c AS (SELECT p AS cls, count(*) AS pred_n FROM scored GROUP BY 1),
    true_c AS (SELECT t AS cls, count(*) AS true_n FROM scored GROUP BY 1),
    hit_c  AS (SELECT p AS cls, count(*) AS tp FROM scored WHERE p = t GROUP BY 1),
    per AS (
      SELECT coalesce(t.cls, pr.cls) AS cls,
             coalesce(hit.tp, 0) AS tp,
             coalesce(pr.pred_n, 0) AS pred_n,
             coalesce(t.true_n, 0) AS true_n
      FROM true_c t FULL JOIN pred_c pr ON t.cls = pr.cls
      LEFT JOIN hit_c hit ON coalesce(t.cls, pr.cls) = hit.cls
    ),
    macro AS (
      SELECT avg(CASE WHEN pred_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/pred_n END) AS pm,
             avg(CASE WHEN true_n = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/true_n END) AS rm
      FROM per
    ),
    acc AS (SELECT CAST(sum(CASE WHEN p = t THEN 1 ELSE 0 END) AS DOUBLE)/count(*) AS a FROM scored)
    SELECT CAST(round(acc.a, 6) AS DOUBLE) AS accuracy,
           CAST(round(macro.pm, 6) AS DOUBLE) AS precision_macro,
           CAST(round(macro.rm, 6) AS DOUBLE) AS recall_macro
    FROM acc CROSS JOIN macro
    """,
)
def q_multiclass_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-averaged multiclass metrics (A7 multi-class, src/transpiler.py
    :276-344's per-label CTE loop → three small groupBys here)."""
    from inferdb_spark.operators.metrics import multiclass_report
    from inferdb_spark.operators.scoring import score_multiclass_linear

    li = load_table(spark, sf_dir, "lineitem")
    scored = score_multiclass_linear(
        li, ["l_quantity", "l_discount", "l_tax"], MC_COEF, MC_B
    ).select(
        F.col("prediction"), (F.col("l_linenumber") % 3).cast("int").alias("label")
    )
    rep = multiclass_report(scored)
    return rep.select(
        F.round("accuracy", 6).cast("double").alias("accuracy"),
        F.round("precision_macro", 6).cast("double").alias("precision_macro"),
        F.round("recall_macro", 6).cast("double").alias("recall_macro"),
    )


@gate(
    "distinct_paths",
    oracle=f"""
    SELECT CAST(count(DISTINCT concat_ws('.', {_bin_expr_sql('l_quantity', QTY_SPLITS)},
                                              l_linenumber % 4)) AS BIGINT) AS n_paths,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    """,
)
def q_distinct_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct compound-path count (A4 filling-degree numerator,
    src/optimizer.py:225-231).  Exact countDistinct for the oracle;
    approx_count_distinct is the scale substitution (engine-specific, so
    benchmarked rather than gated)."""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        ".",
        BinSpec("l_quantity", splits=QTY_SPLITS).expr().cast("string"),
        (F.col("l_linenumber") % 4).cast("string"),
    )
    return li.agg(
        F.countDistinct(key).alias("n_paths"), F.count("*").alias("n_rows")
    )


@gate(
    "collect_sorted_list",
    oracle="""
    SELECT n_regionkey AS region,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(count(*) AS BIGINT) AS n
    FROM nation GROUP BY n_regionkey
    """,
)
def q_collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list aggregation: collect_list is order-nondeterministic
    under shuffle, so SORT the collected array before concatenating — the
    only safe way to emit list aggregates from a distributed engine."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy(F.col("n_regionkey").alias("region")).agg(
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
        F.count("*").alias("n"),
    )


@gate(
    "exact_quantiles",
    oracle="""
    SELECT l_returnflag AS flag,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 6) AS q25,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.50), 6) AS q50,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 6) AS q75,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the IQR bounds behind
    P7 outlier imputation, src/featurizers/nyc_rides_featurizer.py:165-172,
    computed exactly; approxQuantile is the 100-TB substitution and is
    benchmarked separately).  Spark percentile() and DuckDB quantile_cont
    share (n-1)*p linear interpolation; 6dp rounding absorbs FP noise."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("double")
    qs = F.percentile(q, F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75)))
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(qs.alias("_q"), F.count("*").alias("n"))
        .select(
            "flag",
            F.round(F.col("_q")[0], 6).alias("q25"),
            F.round(F.col("_q")[1], 6).alias("q50"),
            F.round(F.col("_q")[2], 6).alias("q75"),
            "n",
        )
    )


def _hash_split_oracle() -> str:
    from inferdb_spark.functions.hashing import duckdb_h52

    h = duckdb_h52("CAST(o_orderkey AS VARCHAR)")
    return f"""
    SELECT CASE WHEN ({h}) % 100 < 80 THEN 'train' ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY 1
    """


@gate("hash_split_sample", oracle=_hash_split_oracle())
def q_hash_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test split by key hash — the distributed
    replacement for the reference's seeded train_test_split
    (src/transpiler.py:3009-3012, seed 42): h52(key) % 100 < 80 assigns
    each row identically on every executor, every engine, every rerun,
    with no shared RNG state — the only split that survives re-partitioning
    at 100 TB.  Same md5-derived hash on both engines (functions/hashing)."""
    from inferdb_spark.functions.hashing import h52

    o = load_table(spark, sf_dir, "orders")
    split = F.when(
        h52(F.col("o_orderkey").cast("string")) % 100 < 80, F.lit("train")
    ).otherwise(F.lit("test"))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.groupBy(split.alias("split")).agg(
        F.count("*").alias("n"), F.sum(cents).alias("cents")
    )


@gate(
    "date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_start,
           CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS ship_by,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom,
           CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS VARCHAR) AS plus2m,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
    FROM orders
    """,
)
def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic family (§2.8 datetime surface beyond extraction):
    month truncation, day offsets, end-of-month, month offsets with
    end-of-month clamping (Spark add_months == PG/DuckDB interval
    semantics: Jan 31 + 1 month = Feb 28/29), day differencing.  Dates are
    emitted as ISO strings so both engines hash identically."""
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.trunc(d, "month").cast("string").alias("month_start"),
        F.date_add(d, 30).cast("string").alias("ship_by"),
        F.last_day(d).cast("string").alias("eom"),
        F.add_months(d, 2).cast("string").alias("plus2m"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias(
            "days_since"
        ),
    )


@gate(
    "edit_distance_pairs",
    oracle="""
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS dist
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    WHERE levenshtein(a.n_name, b.n_name) <= 4
    """,
)
def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-match pairs over a small dimension — the
    fuzzy-matching companion to the n-gram/MinHash dedup family (candidate
    verification by exact Levenshtein).  At 100 TB this runs AFTER an LSH
    band join has cut the pair space; the quadratic form here is only
    viable because the dimension is tiny (and the optimizer turns it into
    a broadcast nested-loop join, not a shuffle)."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    a = n.alias("a")
    b = n.alias("b")
    dist = F.levenshtein(F.col("a.n_name"), F.col("b.n_name"))
    return (
        a.join(F.broadcast(b), F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        .where(dist <= 4)
        .select(
            F.col("a.n_name").alias("name_a"),
            F.col("b.n_name").alias("name_b"),
            dist.cast("long").alias("dist"),
        )
    )


# One SQL text, two engines: this exact string is BOTH the Spark query
# (via spark.sql over registered views) and the DuckDB oracle.  The
# dialect-shared subset (ANSI joins, round, CAST, group by) plus the
# integer-cents rule makes the engine's SQL surface itself gate-checked.
_SHARED_SQL = """
    SELECT n_name,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


@gate("sql_shared_text", oracle=_SHARED_SQL)
def q_sql_shared_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL API surface: the oracle string itself executed by spark.sql
    over registered temp views (S3 createOrReplaceTempView path).  Proves
    dialect-shared ANSI SQL round-trips bit-exactly between engines with
    zero per-engine rewriting."""
    for t in ("lineitem", "orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SHARED_SQL)


@gate(
    "cooccurrence_pairs",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def q_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-order co-occurrence pair counts (market-basket statistics) —
    the one genuinely fact-fact self-join in the suite.  Shuffles both
    sides on the group key (sort-merge join is CORRECT here: neither side
    broadcasts at 100 TB); the quadratic expansion is bounded per group by
    order size, so skew is capped by the widest basket, not the table.
    Pre-bucketing on l_orderkey (scale.write_bucketed) amortizes the
    shuffle across repeated co-occurrence passes."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
    )


@gate(
    "ntile_decile_stats",
    oracle="""
    WITH t AS (
      SELECT ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
             CAST(round(o_totalprice*100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT decile, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents, min(cents) AS lo, max(cents) AS hi
    FROM t GROUP BY decile
    """,
)
def q_ntile_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing via ntile over a total order (value, key) — exact
    equal-count binning.  The global ORDER BY is a single-partition sort,
    fine for gate-sized relations; the 100 TB substitution is
    percentile_approx cut points + a Bucketizer projection (no global
    sort), benchmarked as approx_percentile."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
    return (
        o.select(F.ntile(10).over(w).alias("decile"), cents.alias("cents"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("cents"),
            F.min("cents").alias("lo"),
            F.max("cents").alias("hi"),
        )
    )


@gate(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           CAST(l_quantity AS DOUBLE) AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount',
           CAST(l_discount AS DOUBLE) FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax',
           CAST(l_tax AS DOUBLE) FROM lineitem
    """,
)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (unpivot/melt) — inverse of the pivot gate and the
    relational form behind the reference's COO sparsification (§2.2 P8
    feeds on exactly this shape).  Spark's unpivot is a zero-shuffle
    generator projection: output is 3× the rows but the plan stays
    map-only."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_discount").cast("double").alias("l_discount"),
        F.col("l_tax").cast("double").alias("l_tax"),
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    )


def _stratified_sample_oracle() -> str:
    from inferdb_spark.functions.hashing import duckdb_h52

    h = duckdb_h52("CAST(o_orderkey AS VARCHAR)")
    return f"""
    SELECT o_orderstatus AS cls, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders
    WHERE ({h}) % 1000 < (CASE o_orderstatus WHEN 'O' THEN 100
                                             WHEN 'F' THEN 500 ELSE 1000 END)
    GROUP BY 1
    """


@gate("stratified_sample", oracle=_stratified_sample_oracle())
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-class rates as h52 thresholds
    (10% of 'O', 50% of 'F', all of 'P') — the class-rebalancing sampler
    for training-data curation.  Unlike df.sampleBy, membership is a pure
    function of the key: stable under retries, re-partitioning, and
    re-runs, and reproducible in any engine with md5."""
    from inferdb_spark.functions.hashing import h52

    o = load_table(spark, sf_dir, "orders")
    thr = (
        F.when(F.col("o_orderstatus") == "O", 100)
        .when(F.col("o_orderstatus") == "F", 500)
        .otherwise(1000)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.filter(h52(F.col("o_orderkey").cast("string")) % 1000 < thr)
        .groupBy(F.col("o_orderstatus").alias("cls"))
        .agg(F.count("*").alias("n"), F.sum(cents).alias("cents"))
    )


@gate(
    "lead_lag_deltas",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(datediff('day',
                lag(CAST(o_orderdate AS DATE)) OVER w,
                CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev,
           CAST(round(o_totalprice*100) AS BIGINT)
             - lag(CAST(round(o_totalprice*100) AS BIGINT)) OVER w AS cents_delta
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
    """,
)
def q_lead_lag_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-sequence deltas via lag() — the sequential
    feature family (SURVEY §2.5 notes the reference precomputes its
    previous_value/trend columns upstream; this is that operator, in-engine).
    Window ordering is (date, orderkey): totally ordered, so lag is
    deterministic.  One shuffle on the partition key; integer-cents delta
    for cross-engine exactness."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_custkey").orderBy(d, F.col("o_orderkey"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(d, F.lag(d).over(w)).cast("long").alias("days_since_prev"),
        (cents - F.lag(cents).over(w)).alias("cents_delta"),
    )


@gate(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({duckdb_tokens('text')}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             round(tf * ln(n.n_docs / df), 6) AS tfidf,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC
             ) AS rn
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
      WHERE df >= 10
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf
    FROM scored WHERE rn <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the canonical corpus-statistics
    operator for training-data curation.  Two shuffles total (by (doc,term)
    then by term); document frequency is a VOCABULARY-sized relation, so it
    broadcasts back onto the term-frequency table even when the corpus is
    100 TB.  Ranking uses pure-integer ordering (tf desc, rarity asc, term
    asc) so the top-k set is engine-exact; the float tfidf is a rounded
    output value, never a sort key."""
    from inferdb_spark.functions.text import tokens_sql
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.expr(tokens_sql("`text`"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = (
        tf.groupBy("term").agg(F.count("*").alias("df")).filter(F.col("df") >= 10)
    )
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


@gate(
    "group_zscore",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round((CAST(l_quantity AS DOUBLE)
                  - avg(CAST(l_quantity AS DOUBLE)) OVER (PARTITION BY l_returnflag))
                 / stddev_samp(CAST(l_quantity AS DOUBLE)) OVER (PARTITION BY l_returnflag),
                 6) AS z
    FROM lineitem
    """,
)
def q_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization (windowed standardization) — the
    group-wise companion to the global robust scaler (P2): every row is
    centered/scaled by ITS group's statistics in one unpartitioned-output
    pass.  At scale this is a single shuffle on the group key; no
    collect-and-broadcast of per-group stats needed."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("double")
    w = Window.partitionBy("l_returnflag")
    z = (q - F.avg(q).over(w)) / F.stddev_samp(q).over(w)
    return li.select(
        "l_orderkey", "l_linenumber", F.round(z, 6).alias("z")
    )


@gate(
    "regexp_extract_parse",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
           CAST(regexp_matches(p_name, 'o') AS INT) AS has_o,
           CAST(length(regexp_replace(p_name, '[aeiou]', '', 'g')) AS BIGINT) AS consonant_len
    FROM part
    """,
)
def q_regexp_extract_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction/matching/replacement parity across engines."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_head"),
        F.col("p_name").rlike("o").cast("int").alias("has_o"),
        F.length(F.regexp_replace("p_name", "[aeiou]", "")).cast("long").alias(
            "consonant_len"
        ),
    )


@gate(
    "stats_moments",
    oracle="""
    SELECT l_returnflag,
           CAST(round(corr(l_quantity, l_extendedprice), 6) AS DOUBLE) AS corr_qp,
           CAST(round(covar_samp(l_quantity, l_discount), 6) AS DOUBLE) AS covar_qd,
           CAST(round(stddev_samp(l_tax), 6) AS DOUBLE) AS sd_tax,
           CAST(round(avg(l_quantity), 6) AS DOUBLE) AS mean_q
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped statistical moments (corr/covar/stddev) — single-pass
    decomposable aggregates; cross-engine agreement holds to 6dp.
    (Kurtosis excluded: Spark reports excess g2, DuckDB bias-corrected G2 —
    a definitional difference, not an error.)"""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).cast("double").alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).cast("double").alias("covar_qd"),
        F.round(F.stddev_samp("l_tax"), 6).cast("double").alias("sd_tax"),
        F.round(F.avg("l_quantity"), 6).cast("double").alias("mean_q"),
    )


@gate(
    "embedding_near_pairs",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             CAST({" + ".join(
                 f"(CASE WHEN list_sum(list_transform(generate_series(1, 64),"
                 f" i -> cast(embedding[i] as double) * ({ps})[i])) > 0"
                 f" THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
                 for i, ps in enumerate(_PLANES_SQL[:4])
             )} AS BIGINT) AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             list_sum(list_transform(generate_series(1, 64),
                 i -> cast(x.embedding[i] as double) * cast(y.embedding[i] as double)))
             / (sqrt(list_sum(list_transform(generate_series(1, 64),
                 i -> cast(x.embedding[i] as double) * cast(x.embedding[i] as double))))
              * sqrt(list_sum(list_transform(generate_series(1, 64),
                 i -> cast(y.embedding[i] as double) * cast(y.embedding[i] as double))))) AS cosine
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT id_a, id_b, CAST(round(cosine, 6) AS DOUBLE) AS cosine
    FROM pairs WHERE cosine >= 0.3
    """,
)
def q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: 4-plane LSH blocking +
    exact-cosine verification (threshold 0.3 — the synthetic embeddings are near-orthogonal, so 0.3 marks the top ~1% of in-bucket pairs)."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.embedding_near_pairs(e, "embedding", PLANES[:4], threshold=0.3)
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 6).cast("double").alias("cosine")
    )


@gate(
    "array_functions",
    oracle="""
    WITH pk AS (
      SELECT l_orderkey, l_partkey,
             max(CASE WHEN l_linenumber <= 3 THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN l_linenumber >= 3 THEN 1 ELSE 0 END) AS in_b
      FROM lineitem WHERE l_orderkey % 20 = 0
      GROUP BY l_orderkey, l_partkey
    )
    SELECT CAST(l_orderkey AS BIGINT) AS orderkey,
           CAST(sum(in_a) AS BIGINT) AS n_a,
           CAST(sum(in_b) AS BIGINT) AS n_b,
           CAST(sum(in_a * in_b) AS BIGINT) AS n_inter,
           CAST(count(*) AS BIGINT) AS n_union,
           CAST(min(CASE WHEN in_a = 1 THEN l_partkey END) AS BIGINT) AS first_sorted,
           CAST(max(l_partkey) AS BIGINT) AS mx
    FROM pk GROUP BY l_orderkey
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery: collect_set -> array_sort / array_intersect /
    array_union / array_except / array_min / array_max / element_at /
    size.  The Spark side genuinely manipulates array columns; the oracle
    computes the same scalars relationally (COUNT DISTINCT CASE), which
    sidesteps engine-specific list-function semantics while pinning the
    same answers (membership flags per (order, partkey), since a partkey
    can recur across linenumbers).  SURVEY §2.8 array family."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
    grouped = li.groupBy(F.col("l_orderkey").cast("long").alias("orderkey")).agg(
        F.array_sort(
            F.array_distinct(
                F.collect_list(F.when(F.col("l_linenumber") <= 3, F.col("l_partkey")))
            )
        ).alias("a"),
        F.array_sort(
            F.array_distinct(
                F.collect_list(F.when(F.col("l_linenumber") >= 3, F.col("l_partkey")))
            )
        ).alias("b"),
    )
    return grouped.select(
        "orderkey",
        F.size("a").cast("long").alias("n_a"),
        F.size("b").cast("long").alias("n_b"),
        F.size(F.array_intersect("a", "b")).cast("long").alias("n_inter"),
        F.size(F.array_union("a", "b")).cast("long").alias("n_union"),
        F.try_element_at("a", F.lit(1)).cast("long").alias("first_sorted"),
        F.array_max(F.array_union("a", "b")).cast("long").alias("mx"),
    )


@gate(
    "string_functions",
    oracle="""
    SELECT CAST(p_partkey AS BIGINT) AS partkey,
           upper(p_name) AS up,
           lpad(p_brand, 12, '*') AS lp,
           reverse(p_type) AS rev,
           repeat(substr(p_name, 1, 3), 2) AS rep,
           CAST(ascii(substr(p_name, 1, 1)) AS BIGINT) AS a0,
           split_part(p_name, ' ', 2) AS word2,
           replace(p_type, ' ', '_') AS rl,
           translate(p_type, 'aeiou', 'AEIOU') AS tr,
           CAST(length(p_name) AS BIGINT) AS ln,
           CAST(position(' ' IN p_name) AS BIGINT) AS pos,
           ltrim(p_name, 'abcdef') AS lt
    FROM part WHERE p_partkey % 25 = 0
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function battery (upper/lpad/reverse/repeat/ascii/
    split_part/replace/translate/length/position/char-class ltrim) —
    widens SURVEY §2.8's string family from the reference's concat/substr
    surface to the full set a replacement engine needs."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 25 == 0)
    return p.select(
        F.col("p_partkey").cast("long").alias("partkey"),
        F.upper("p_name").alias("up"),
        F.lpad("p_brand", 12, "*").alias("lp"),
        F.reverse("p_type").alias("rev"),
        F.repeat(F.substring("p_name", 1, 3), 2).alias("rep"),
        F.ascii(F.substring("p_name", 1, 1)).cast("long").alias("a0"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("word2"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("rl"),
        F.translate("p_type", "aeiou", "AEIOU").alias("tr"),
        F.length("p_name").cast("long").alias("ln"),
        F.instr("p_name", " ").cast("long").alias("pos"),
        F.expr("trim(LEADING 'abcdef' FROM p_name)").alias("lt"),
    )


# NOT IN vs NOT EXISTS with NULLs in the subquery: ANSI three-valued logic
# makes `x NOT IN (..., NULL, ...)` UNKNOWN for every non-matching x, so
# the NOT IN branch must return 0 rows while NOT EXISTS returns the real
# anti-join count.  Same text runs on both engines — pins the trap.
_NOT_IN_SQL = """
    WITH probe AS (
      SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                  ELSE o_custkey END AS ck
      FROM orders
    )
    SELECT 'not_in' AS variant, CAST(count(*) AS BIGINT) AS n
    FROM customer WHERE c_custkey NOT IN (SELECT ck FROM probe)
    UNION ALL
    SELECT 'not_exists', CAST(count(*) AS BIGINT)
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.ck = c.c_custkey)
"""


@gate("not_in_null_semantics", oracle=_NOT_IN_SQL)
def q_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI NOT IN three-valued-logic trap vs NOT EXISTS anti-join, same
    SQL text on both engines: a NULL in the subquery annihilates NOT IN
    (0 rows) but not NOT EXISTS — the semantic edge every engine
    migration trips over (Spark plans NOT IN as null-aware anti join)."""
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_NOT_IN_SQL)


@gate(
    "cooccurrence_pmi",
    oracle="""
    WITH ords AS (SELECT count(DISTINCT l_orderkey) AS n_ord FROM lineitem),
    item AS (
      SELECT l_partkey, count(DISTINCT l_orderkey) AS n_i
      FROM lineitem GROUP BY l_partkey
    ),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(DISTINCT a.l_orderkey) AS n_ab
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2
    )
    SELECT CAST(part_a AS BIGINT) AS part_a, CAST(part_b AS BIGINT) AS part_b,
           CAST(n_ab AS BIGINT) AS n_ab,
           CAST(round(ln(CAST(n_ab AS DOUBLE) * o.n_ord
                         / (ia.n_i * ib.n_i)) * 1000000) AS BIGINT) AS pmi_unats
    FROM pair JOIN item ia ON pair.part_a = ia.l_partkey
              JOIN item ib ON pair.part_b = ib.l_partkey
              CROSS JOIN ords o
    """,
)
def q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over co-purchase pairs — association
    strength on top of the raw cooccurrence counts (gate:cooccurrence_
    pairs), the statistic behind word/item-embedding objectives.  PMI in
    integer micro-nats (all inputs are exact integer counts; one ln per
    pair, rounded identically).  Item marginals broadcast against the
    pair relation."""
    li = load_table(spark, sf_dir, "lineitem")
    n_ord = li.select("l_orderkey").distinct().count()
    item = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("n_i")
    )
    a, b = li.alias("a"), li.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.countDistinct("a.l_orderkey").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_i").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_i").alias("n_b"))
    return (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .select(
            F.col("part_a").cast("long").alias("part_a"),
            F.col("part_b").cast("long").alias("part_b"),
            F.col("n_ab").cast("long").alias("n_ab"),
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.lit(float(n_ord))
                    / (F.col("n_a") * F.col("n_b")).cast("double")
                )
                * 1e6
            ).cast("long").alias("pmi_unats"),
        )
    )
