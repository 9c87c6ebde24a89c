"""Round-8 gate queries, batch 6.

Group-comparison tests, graph link prediction, and text readability:

- levene_brown_forsythe — variance-homogeneity test across the five
                          order-priority groups (Brown-Forsythe form:
                          deviations from exact GROUP MEDIANS)
- friedman_test_lines   — Friedman rank test of a line-position effect
                          within orders (exact doubled midranks — the
                          whole statistic is an integer ratio)
- cochran_q_binary      — Cochran's Q for three binary indicators per
                          line (the k-treatment extension of McNemar)
- link_prediction_scores — common-neighbors / Adamic-Adar / Jaccard
                          supplier-pair scores via shared parts
- readability_scores    — Flesch reading ease + Flesch-Kincaid grade
                          from vowel-group syllable counting

Determinism: group medians are integer rank selections; Friedman and
Cochran statistics are exact-integer ratios divided once in shared SQL;
per-group and per-part double terms are quantized to BIGINT before
summation (5-row double sums are still order-sensitive);
regexp_replace is emitted per-engine (Spark replaces globally by
default, DuckDB needs the 'g' flag).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions import text as TXT
from inferdb_spark.gate import gate

# ---------------------------------------------------------------------------
# Brown-Forsythe (median-centered Levene) test
# ---------------------------------------------------------------------------

# per-group term sg^2/ng quantized to WHOLE units (dollar^2 scale —
# unit resolution dwarfs the 6dp output rounding, and micro-units would
# overflow BIGINT), summed exactly — a 5-row double sum would be
# order-sensitive
_BF_TG = (
    "CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)"
    " / CAST(ng AS DOUBLE)) AS BIGINT)"
)

_BF_OUT = [
    "k",
    "n",
    "CAST(round(((CAST(t_sum AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    " / CAST(k - 1 AS DOUBLE))"
    " / ((CAST(q_sum AS DOUBLE) - CAST(t_sum AS DOUBLE))"
    " / CAST(n - k AS DOUBLE)), 6) AS DOUBLE) AS f6",
]


@gate(
    "levene_brown_forsythe",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS grp, o_orderkey AS okey,
             CAST(round(o_totalprice) AS BIGINT) AS y
      FROM orders
    ),
    ranked AS (
      SELECT grp, y,
             CAST(row_number() OVER (PARTITION BY grp ORDER BY y, okey)
                  AS BIGINT) AS rk,
             CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS ng
      FROM base
    ),
    med AS (SELECT grp, y AS m FROM ranked WHERE rk = (ng + 1) // 2),
    dev AS (
      SELECT base.grp, CAST(abs(base.y - med.m) AS BIGINT) AS z
      FROM base JOIN med ON base.grp = med.grp
    ),
    per_g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(z) AS BIGINT) AS sg,
             CAST(sum(z * z) AS BIGINT) AS qg
      FROM dev GROUP BY grp
    ),
    quant AS (SELECT grp, ng, sg, qg, {_BF_TG} AS t_u FROM per_g),
    gtot AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
             CAST(sum(sg) AS BIGINT) AS s, CAST(sum(qg) AS BIGINT) AS q_sum,
             CAST(sum(t_u) AS BIGINT) AS t_sum
      FROM quant
    )
    SELECT {', '.join(_BF_OUT)} FROM gtot
    """,
)
def q_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (the robust median-centered Levene) of
    variance homogeneity of order value across the five order-priority
    groups: one-way ANOVA F on the absolute deviations z = |y - median
    of the group| — the check that precedes any pooled-variance
    analysis the engine runs (xbar, CUPED, two-sample t all assume it).

    Exactness: group medians are integer rank selections under the
    (y, orderkey) total order; z is an exact BIGINT; the only
    non-integer per-group quantity sg^2/ng is unit-quantized BEFORE
    the cross-group sums so nothing order-sensitive accumulates; the F
    ratio divides once in shared SQL.  Scale: ranking windows are
    PARTITIONED BY group; all remaining relations have one row per
    group.  Dollar units keep qg = sum z^2 in BIGINT through ~sf10
    (kilodollar rescale is the documented path beyond)."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.selectExpr(
        "o_orderpriority AS grp",
        "o_orderkey AS okey",
        "CAST(round(o_totalprice) AS BIGINT) AS y",
    )
    wg = Window.partitionBy("grp").orderBy("y", "okey")
    wc = Window.partitionBy("grp")
    ranked = base.select(
        "grp",
        "y",
        F.row_number().over(wg).cast("long").alias("rk"),
        F.count("*").over(wc).cast("long").alias("ng"),
    )
    med = ranked.filter(F.expr("rk = (ng + 1) div 2")).select(
        "grp", F.col("y").alias("m")
    )
    dev = base.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("y") - F.col("m")).cast("long").alias("z")
    )
    per_g = dev.groupBy("grp").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("z").cast("long").alias("sg"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("qg"),
    )
    quant = per_g.selectExpr("grp", "ng", "sg", "qg", f"{_BF_TG} AS t_u")
    glob = quant.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("qg").cast("long").alias("q_sum"),
        F.sum("t_u").cast("long").alias("t_sum"),
    )
    return glob.selectExpr(*_BF_OUT)


# ---------------------------------------------------------------------------
# Friedman test of a line-position effect
# ---------------------------------------------------------------------------

# doubled midrank of v_a among (v_a, v_b, v_c): 2 + 2*#less + #equal
def _r2(a: str, b: str, c: str) -> str:
    return (
        f"CAST(2 + 2 * ((CASE WHEN {a} > {b} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {a} > {c} THEN 1 ELSE 0 END))"
        f" + (CASE WHEN {a} = {b} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {a} = {c} THEN 1 ELSE 0 END) AS BIGINT)"
    )


_FRIED_OUT = [
    "n_blocks",
    "r2_1",
    "r2_2",
    "r2_3",
    "a4",
    "CASE WHEN a4 - 48 * n_blocks = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(round(2.0 * (CAST((r2_1 - 4 * n_blocks) * (r2_1 - 4 * n_blocks)"
    " + (r2_2 - 4 * n_blocks) * (r2_2 - 4 * n_blocks)"
    " + (r2_3 - 4 * n_blocks) * (r2_3 - 4 * n_blocks) AS DOUBLE))"
    " / CAST(a4 - 48 * n_blocks AS DOUBLE), 6) AS DOUBLE) END AS chi2_6",
]


@gate(
    "friedman_test_lines",
    oracle=f"""
    WITH wide AS (
      SELECT l_orderkey,
             CAST(max(CASE WHEN l_linenumber = 1
                  THEN CAST(round(l_extendedprice) AS BIGINT) END) AS BIGINT) AS v1,
             CAST(max(CASE WHEN l_linenumber = 2
                  THEN CAST(round(l_extendedprice) AS BIGINT) END) AS BIGINT) AS v2,
             CAST(max(CASE WHEN l_linenumber = 3
                  THEN CAST(round(l_extendedprice) AS BIGINT) END) AS BIGINT) AS v3
      FROM lineitem WHERE l_linenumber <= 3 GROUP BY l_orderkey
      HAVING count(DISTINCT l_linenumber) = 3
    ),
    ranks AS (
      SELECT {_r2("v1", "v2", "v3")} AS r1,
             {_r2("v2", "v1", "v3")} AS r2,
             {_r2("v3", "v1", "v2")} AS r3
      FROM wide
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(r1) AS BIGINT) AS r2_1,
             CAST(sum(r2) AS BIGINT) AS r2_2,
             CAST(sum(r3) AS BIGINT) AS r2_3,
             CAST(sum(r1 * r1 + r2 * r2 + r3 * r3) AS BIGINT) AS a4
      FROM ranks
    )
    SELECT {', '.join(_FRIED_OUT)} FROM agg
    """,
)
def q_friedman_test_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test for a line-POSITION effect: within every
    order carrying line numbers 1, 2, AND 3, rank the (max, since this
    synthetic lineitem repeats (order, linenumber) keys) dollar values
    of the three positions (blocks = orders, treatments = positions)
    and test
    whether any position systematically ranks higher.  Line position
    carries no pricing information in this data, so the test is a
    PLACEBO — the same design-validation discipline as
    gate:diff_in_diff_revenue — while the machinery (within-block
    midranks, tie-corrected statistic) is the real repeated-measures
    test gate:kruskal-style rank methods don't cover.

    Exactness: midranks are DOUBLED so they are exact integers
    (rank = 1 + #less + #equal/2, computed by pure CASE comparisons —
    no window); with doubled ranks the tie-corrected statistic
    collapses to chi2 = 2 * sum_j (R2_j - 4n)^2 / (A4 - 48n), an exact
    integer ratio divided once in shared SQL.  Scale: one conditional
    pivot groupBy(order) + one 1-row aggregate; no joins, no windows."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.filter(F.col("l_linenumber") <= 3)
        .groupBy("l_orderkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_linenumber") == 1,
                    F.round(F.col("l_extendedprice")).cast("long"),
                )
            )
            .cast("long")
            .alias("v1"),
            F.max(
                F.when(
                    F.col("l_linenumber") == 2,
                    F.round(F.col("l_extendedprice")).cast("long"),
                )
            )
            .cast("long")
            .alias("v2"),
            F.max(
                F.when(
                    F.col("l_linenumber") == 3,
                    F.round(F.col("l_extendedprice")).cast("long"),
                )
            )
            .cast("long")
            .alias("v3"),
            F.countDistinct("l_linenumber").alias("_cnt"),
        )
        .filter(F.col("_cnt") == 3)
        .drop("_cnt")
    )
    ranks = wide.selectExpr(
        f'{_r2("v1", "v2", "v3")} AS r1',
        f'{_r2("v2", "v1", "v3")} AS r2',
        f'{_r2("v3", "v1", "v2")} AS r3',
    )
    agg = ranks.agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("r1").cast("long").alias("r2_1"),
        F.sum("r2").cast("long").alias("r2_2"),
        F.sum("r3").cast("long").alias("r2_3"),
        F.sum(
            F.col("r1") * F.col("r1")
            + F.col("r2") * F.col("r2")
            + F.col("r3") * F.col("r3")
        )
        .cast("long")
        .alias("a4"),
    )
    return agg.selectExpr(*_FRIED_OUT)


# ---------------------------------------------------------------------------
# Cochran's Q for three binary indicators
# ---------------------------------------------------------------------------

_CQ_OUT = [
    "n",
    "c1",
    "c2",
    "c3",
    "CAST(2 AS BIGINT) AS df",
    "CASE WHEN 3 * (c1 + c2 + c3) - sum_r2 = 0 THEN CAST(0.0 AS DOUBLE)"
    " ELSE CAST(round(2.0 * (3.0 * (CAST(c1 AS DOUBLE) * CAST(c1 AS DOUBLE)"
    " + CAST(c2 AS DOUBLE) * CAST(c2 AS DOUBLE)"
    " + CAST(c3 AS DOUBLE) * CAST(c3 AS DOUBLE))"
    " - (CAST(c1 + c2 + c3 AS DOUBLE) * CAST(c1 + c2 + c3 AS DOUBLE)))"
    " / CAST(3 * (c1 + c2 + c3) - sum_r2 AS DOUBLE), 6) AS DOUBLE) END"
    " AS q6",
]


@gate(
    "cochran_q_binary",
    oracle=f"""
    WITH ind AS (
      SELECT CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END AS b1,
             CASE WHEN l_extendedprice > 30000 THEN 1 ELSE 0 END AS b2,
             CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS b3
      FROM lineitem
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(b1) AS BIGINT) AS c1,
             CAST(sum(b2) AS BIGINT) AS c2,
             CAST(sum(b3) AS BIGINT) AS c3,
             CAST(sum((b1 + b2 + b3) * (b1 + b2 + b3)) AS BIGINT) AS sum_r2
      FROM ind
    )
    SELECT {', '.join(_CQ_OUT)} FROM agg
    """,
)
def q_cochran_q_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test that three binary per-line indicators (large
    quantity, high price, discounted) fire at the same rate: the
    k-treatment generalization of McNemar's paired test
    (gate:mcnemar_paired_test handles k = 2; Q reduces to it exactly
    there), used to compare k binary quality filters over one corpus
    before unioning them.

    Exactness: Q = (k-1)(k*sum C_j^2 - (sum C_j)^2) / (k*sum R_i -
    sum R_i^2) needs only five exact BIGINT sums from ONE conditional
    aggregation — row sums enter via sum (b1+b2+b3)^2, so no per-row
    relation survives; the ratio divides once in shared SQL (C_j^2
    crosses into doubles — it exceeds BIGINT past ~sf100).  Scale: one
    scan, one 1-row aggregate, nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    ind = li.select(
        F.when(F.col("l_quantity") >= 25, 1).otherwise(0).alias("b1"),
        F.when(F.col("l_extendedprice") > 30000, 1).otherwise(0).alias("b2"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("b3"),
    )
    rsum = F.col("b1") + F.col("b2") + F.col("b3")
    agg = ind.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("b1").cast("long").alias("c1"),
        F.sum("b2").cast("long").alias("c2"),
        F.sum("b3").cast("long").alias("c3"),
        F.sum(rsum * rsum).cast("long").alias("sum_r2"),
    )
    return agg.selectExpr(*_CQ_OUT)


# ---------------------------------------------------------------------------
# Link prediction over the supplier-part bipartite graph
# ---------------------------------------------------------------------------

_LP_TOPK = 15
# per-shared-part Adamic-Adar weight 1/ln(deg), micro-quantized before
# the per-pair integer sum (deg >= 2 wherever a pair exists)
_AA_W = "CAST(round(1000000.0 / ln(CAST(deg_p AS DOUBLE))) AS BIGINT)"
# Hub-part cap (the item_item DIMSUM discipline, round-8 verdict #4):
# pair fan-out per part is C(deg_p, 2), so ONE hub part with 5e4
# suppliers emits 1.25e9 pairs while contributing 1/ln(5e4) ≈ 0.09 of
# Adamic-Adar weight to each — textbook practice drops hub neighbors
# outright (their per-pair evidence is negligible; cost is quadratic).
# Parts over the cap are excluded from pair generation on BOTH the
# Spark and oracle sides, so the operator definition itself is
# scale-bounded: work ≤ Σ_p C(min(deg_p, cap), 2).  Real TPC-H has
# deg_p ≤ 4 by construction (partsupp), the synthetic tables max at 52
# (sf0.1), so the cap never binds below the clone-densified sf10 regime
# that DNF'd in round 8.
_LP_MAX_DEG = 512


@gate(
    "link_prediction_scores",
    oracle=f"""
    WITH e AS (
      SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
                      CAST(l_partkey AS BIGINT) AS p
      FROM lineitem
    ),
    deg_p AS (SELECT p, CAST(count(*) AS BIGINT) AS deg_p FROM e GROUP BY p
              HAVING count(*) <= {_LP_MAX_DEG}),
    deg_s AS (SELECT s, CAST(count(*) AS BIGINT) AS deg_s FROM e GROUP BY s),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2, deg_p.deg_p
      FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
      JOIN deg_p ON a.p = deg_p.p
    ),
    scored AS (
      SELECT s1, s2, CAST(count(*) AS BIGINT) AS common,
             CAST(sum({_AA_W}) AS BIGINT) AS aa_u
      FROM pairs GROUP BY s1, s2
    ),
    full_s AS (
      SELECT scored.s1, scored.s2, scored.common, scored.aa_u,
             d1.deg_s AS deg1, d2.deg_s AS deg2
      FROM scored JOIN deg_s d1 ON scored.s1 = d1.s
                  JOIN deg_s d2 ON scored.s2 = d2.s
    )
    SELECT s1, s2, common, deg1, deg2,
           CAST(round(CAST(aa_u AS DOUBLE) / 1000000.0, 6) AS DOUBLE)
             AS adamic_adar6,
           CAST(round(CAST(common AS DOUBLE)
                / CAST(deg1 + deg2 - common AS DOUBLE), 6) AS DOUBLE)
             AS jaccard6
    FROM full_s
    ORDER BY aa_u DESC, s1, s2 LIMIT {_LP_TOPK}
    """,
)
def q_link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores for supplier pairs from their shared
    parts: common-neighbor count, Adamic-Adar sum 1/ln(deg(part))
    (rare shared parts weigh more), and neighborhood Jaccard — the
    classic who-should-be-connected triple over the same bipartite
    graph HITS and PageRank rank (those score NODES; this scores
    EDGES-to-be).

    Exactness: the 1/ln(deg) weights are micro-quantized per shared
    part before the per-pair BIGINT sum (deg >= 2 wherever a pair
    exists, so ln never vanishes); Jaccard divides exact integers
    once; top-k takes the (aa_u DESC, s1, s2) total order on the
    INTEGER score.  Scale: pair generation joins the edge relation on
    the part key — sum over parts of (suppliers-per-part choose 2)
    rows, the same inside-bucket quadratic bound as every dedup
    operator here; degrees are two map-side-combinable counts."""
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        li.select(
            F.col("l_suppkey").cast("long").alias("s"),
            F.col("l_partkey").cast("long").alias("p"),
        )
        .distinct()
        .persist()
    )
    deg_p = (
        e.groupBy("p")
        .agg(F.count("*").cast("long").alias("deg_p"))
        .filter(F.col("deg_p") <= _LP_MAX_DEG)
    )
    deg_s = e.groupBy("s").agg(F.count("*").cast("long").alias("deg_s"))
    # hub cap applied BEFORE the self-join fan-out: the inner join to the
    # capped degree relation prunes hub parts from the edge relation
    # itself, so no C(hub_deg, 2) pair batch is ever materialized
    ec = e.join(deg_p, "p")
    a = ec.alias("a")
    b = ec.select("p", "s").alias("b")
    pairs = a.join(
        b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s"))
    ).select(
        F.col("a.s").alias("s1"), F.col("b.s").alias("s2"), F.col("a.deg_p").alias("deg_p")
    )
    scored = pairs.groupBy("s1", "s2").agg(
        F.count("*").cast("long").alias("common"),
        F.sum(F.expr(_AA_W)).cast("long").alias("aa_u"),
    )
    full_s = (
        scored.join(deg_s.selectExpr("s AS s1", "deg_s AS deg1"), "s1")
        .join(deg_s.selectExpr("s AS s2", "deg_s AS deg2"), "s2")
    )
    out = full_s.selectExpr(
        "s1",
        "s2",
        "common",
        "deg1",
        "deg2",
        "CAST(round(CAST(aa_u AS DOUBLE) / 1000000.0, 6) AS DOUBLE) AS adamic_adar6",
        "CAST(round(CAST(common AS DOUBLE)"
        " / CAST(deg1 + deg2 - common AS DOUBLE), 6) AS DOUBLE) AS jaccard6",
        "aa_u",
    ).orderBy(F.desc("aa_u"), F.asc("s1"), F.asc("s2")).limit(_LP_TOPK).drop("aa_u")
    rows = out.collect()
    e.unpersist()
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Readability scores
# ---------------------------------------------------------------------------


def _read_sql(words: str, g: str) -> list[str]:
    """n_sentences / n_syllables / scores; `g` is the engine's global
    regexp flag argument ('' for Spark, ", 'g'" for DuckDB)."""
    sents = (
        "greatest(CAST(1 AS BIGINT), CAST(length(regexp_replace("
        f"regexp_replace(text, '[.!?]+', '.'{g}), '[^.]', ''{g})) AS BIGINT))"
    )
    cleaned = f"regexp_replace(lower(text), '[^a-z ]', ' '{g})"
    syll = (
        "CAST(length(regexp_replace(regexp_replace("
        f"{cleaned}, '[aeiouy]+', '#'{g}), '[^#]', ''{g})) AS BIGINT)"
    )
    return [
        "doc_id",
        f"CAST({words} AS BIGINT) AS n_words",
        f"{sents} AS n_sentences",
        f"{syll} AS n_syllables",
    ]


_READ_SCORES = [
    "doc_id",
    "n_words",
    "n_sentences",
    "n_syllables",
    "CASE WHEN n_words = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(round(206.835 - 1.015 * (CAST(n_words AS DOUBLE)"
    " / CAST(n_sentences AS DOUBLE)) - 84.6 * (CAST(n_syllables AS DOUBLE)"
    " / CAST(n_words AS DOUBLE)), 6) AS DOUBLE) END AS flesch6",
    "CASE WHEN n_words = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(round(0.39 * (CAST(n_words AS DOUBLE)"
    " / CAST(n_sentences AS DOUBLE)) + 11.8 * (CAST(n_syllables AS DOUBLE)"
    " / CAST(n_words AS DOUBLE)) - 15.59, 6) AS DOUBLE) END AS fk_grade6",
]


@gate(
    "readability_scores",
    oracle=f"""
    WITH counts AS (
      SELECT {', '.join(_read_sql(f"len({TXT.duckdb_tokens('text')})", ", 'g'"))}
      FROM documents
    )
    SELECT {', '.join(_READ_SCORES)} FROM counts ORDER BY doc_id
    """,
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease and Flesch-Kincaid grade per document, from
    word, sentence, and syllable counts — the readability member of the
    text-quality family (gate:text_quality measures length/punct
    ratios, gate:char_entropy_quality information density; readability
    is the classic human-difficulty proxy used as a curation filter).
    Syllables use the standard vowel-GROUP heuristic computed by pure
    regexp surgery (collapse [aeiouy]+ runs to one marker, count
    markers); sentence enders are collapsed the same way (this corpus
    carries no punctuation, so every doc floors at 1 sentence — the
    formulas still discriminate via syllables/word).

    Determinism: all three counts are exact integers from identical
    regexp programs (only the engines' global-flag SPELLING differs —
    Spark replaces globally by default, DuckDB takes 'g'); the two
    score formulas run once in shared SQL.  Scale: pure per-row
    projection, embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.withColumn("n_words_raw", F.size(F.expr(TXT.tokens_sql("`text`")))).selectExpr(
        *_read_sql("n_words_raw", "")
    )
    return counts.selectExpr(*_READ_SCORES).orderBy("doc_id")
