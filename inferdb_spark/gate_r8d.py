"""Round-8 gate queries, batch 4.

Information-theoretic feature selection:

- mrmr_feature_select — greedy minimum-redundancy-maximum-relevance
  selection over five binned lineitem features vs the returnflag
  target, every mutual information an exact nano-quantized BIGINT and
  the greedy replayed step-by-step in the oracle

(This batch originally also held ordered-funnel, retention-cohort,
and Markov-transition gates; they were dropped before registration as
semantic duplicates of the existing gate:funnel_stages,
gate:cohort_retention, and gate:event_transitions.)

Determinism: exact BIGINT counts; MI cell terms nano-quantized before
summation; greedy ties break (score DESC, feature ASC) on integers;
all display divisions in shared SQL strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import gate

# ---------------------------------------------------------------------------
# mRMR greedy feature selection
# ---------------------------------------------------------------------------

_MRMR_FEATS = {
    "d": "CAST(round(l_discount * 100) AS BIGINT)",
    "m": "CAST(month(l_shipdate) AS BIGINT)",
    "p": "least(9, CAST(floor(l_extendedprice / 11000.0) AS BIGINT))",
    "q": "CAST(floor(CAST(round(l_quantity) AS BIGINT) / 10.0) AS BIGINT)",
    "t": "CAST(round(l_tax * 100) AS BIGINT)",
}
_MRMR_Y = "CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT)"
_MRMR_K = 3

# per-cell MI contribution n_ab * ln(n_ab*n / (n_a*n_b)), nano-quantized
_MI_CELL = (
    "CAST(round((CAST(n_ab AS DOUBLE)"
    " * ln((CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE))"
    " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))) * 1000000000.0)"
    " AS BIGINT)"
)

# final display columns from the exact integers (step, rel_u, red_sum,
# n, n_sel = |S| = step - 1)
_MRMR_OUT = [
    "step",
    "feature",
    "CAST(round(CAST(rel_u AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0), 6)"
    " AS DOUBLE) AS relevance6",
    "CASE WHEN step = 1 THEN CAST(0.0 AS DOUBLE) ELSE "
    "CAST(round(CAST(red_sum AS DOUBLE) / (CAST(step - 1 AS DOUBLE)"
    " * CAST(n AS DOUBLE) * 1000000000.0), 6) AS DOUBLE) END AS red_mean6",
    "CASE WHEN step = 1 THEN "
    "CAST(round(CAST(rel_u AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0), 6)"
    " AS DOUBLE) ELSE "
    "CAST(round((CAST(rel_u AS DOUBLE) - CAST(red_sum AS DOUBLE)"
    " / CAST(step - 1 AS DOUBLE)) / (CAST(n AS DOUBLE) * 1000000000.0), 6)"
    " AS DOUBLE) END AS score6",
]


def _mrmr_pairs_sql() -> str:
    """UNION ALL projecting every (feature, feature) and (feature, y)
    pair into (pr, av, bv) rows; pair ids are lexicographic."""
    names = sorted(_MRMR_FEATS)
    sel = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            sel.append(
                f"SELECT '{a}_{b}' AS pr, {_MRMR_FEATS[a]} AS av,"
                f" {_MRMR_FEATS[b]} AS bv FROM lineitem"
            )
        sel.append(
            f"SELECT '{a}_y' AS pr, {_MRMR_FEATS[a]} AS av,"
            f" {_MRMR_Y} AS bv FROM lineitem"
        )
    return " UNION ALL ".join(sel)


def _mrmr_oracle() -> str:
    mi_base = f"""
    pairs AS MATERIALIZED ({_mrmr_pairs_sql()}),
    joint AS MATERIALIZED (
      SELECT pr, av, bv, CAST(count(*) AS BIGINT) AS n_ab
      FROM pairs GROUP BY pr, av, bv
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
    ma AS (SELECT pr, av, CAST(sum(n_ab) AS BIGINT) AS n_a FROM joint
           GROUP BY pr, av),
    mb AS (SELECT pr, bv, CAST(sum(n_ab) AS BIGINT) AS n_b FROM joint
           GROUP BY pr, bv),
    cells AS (
      SELECT joint.pr, {_MI_CELL} AS c_u
      FROM joint JOIN ma ON joint.pr = ma.pr AND joint.av = ma.av
                 JOIN mb ON joint.pr = mb.pr AND joint.bv = mb.bv
                 CROSS JOIN tot
    ),
    mi AS MATERIALIZED (
      SELECT pr, CAST(sum(c_u) AS BIGINT) AS mi_u FROM cells GROUP BY pr
    ),
    rel AS MATERIALIZED (
      SELECT substring(pr, 1, 1) AS f, mi_u FROM mi WHERE pr LIKE '%\\_y' ESCAPE '\\'
    ),
    red AS MATERIALIZED (
      SELECT substring(pr, 1, 1) AS fa, substring(pr, 3, 1) AS fb, mi_u
      FROM mi WHERE pr NOT LIKE '%\\_y' ESCAPE '\\'
    )"""
    steps = """,
    s1 AS MATERIALIZED (
      SELECT f, mi_u AS rel_u, CAST(0 AS BIGINT) AS red_sum
      FROM rel ORDER BY mi_u DESC, f LIMIT 1
    ),
    sc2 AS MATERIALIZED (
      SELECT r.f, r.mi_u AS rel_u, d.mi_u AS red_sum
      FROM rel r CROSS JOIN s1
      JOIN red d ON d.fa = least(r.f, s1.f) AND d.fb = greatest(r.f, s1.f)
      WHERE r.f <> s1.f
    ),
    s2 AS MATERIALIZED (
      SELECT f, rel_u, red_sum FROM sc2
      ORDER BY rel_u * 1 - red_sum DESC, f LIMIT 1
    ),
    sc3 AS MATERIALIZED (
      SELECT r.f, r.mi_u AS rel_u,
             CAST(d1.mi_u + d2.mi_u AS BIGINT) AS red_sum
      FROM rel r CROSS JOIN s1 CROSS JOIN s2
      JOIN red d1 ON d1.fa = least(r.f, s1.f) AND d1.fb = greatest(r.f, s1.f)
      JOIN red d2 ON d2.fa = least(r.f, s2.f) AND d2.fb = greatest(r.f, s2.f)
      WHERE r.f <> s1.f AND r.f <> s2.f
    ),
    s3 AS MATERIALIZED (
      SELECT f, rel_u, red_sum FROM sc3
      ORDER BY rel_u * 2 - red_sum DESC, f LIMIT 1
    ),
    chosen AS (
      SELECT CAST(1 AS BIGINT) AS step, f AS feature, rel_u, red_sum FROM s1
      UNION ALL
      SELECT CAST(2 AS BIGINT), f, rel_u, red_sum FROM s2
      UNION ALL
      SELECT CAST(3 AS BIGINT), f, rel_u, red_sum FROM s3
    )"""
    return (
        "WITH "
        + mi_base
        + steps
        + f"""
    SELECT {', '.join(_MRMR_OUT)}
    FROM chosen CROSS JOIN tot ORDER BY step
    """
    )


@gate("mrmr_feature_select", oracle=_mrmr_oracle())
def q_mrmr_feature_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy mRMR (minimum-redundancy-maximum-relevance) selection of
    {_MRMR_K} of five binned lineitem features against the returnflag
    target: step 1 takes the feature with max mutual information
    I(f; y); each later step maximizes I(f; y) - (1/|S|) sum_(s in S)
    I(f; s) — the standard filter-method feature selector, and the
    information-theoretic upgrade of gate:woe_iv ranking (IV scores
    features independently; mRMR also penalizes features that repeat
    already-selected information).

    Exactness: every MI is an exact BIGINT — per-cell terms
    n_ab * ln(n_ab*n / (n_a*n_b)) nano-quantized before summation —
    and ALL 15 pair MIs come from ONE pass (each row projects into 15
    (pair, a, b) tuples; joints and marginals aggregate on the bounded
    bin domain).  Greedy comparisons are integer (rel_u * |S| -
    red_sum) with (score DESC, feature ASC) tie-break; the oracle
    replays the greedy as MATERIALIZED per-step CTEs; display columns
    derive from the integers via shared SQL on BOTH engines.  Scale:
    one scan fan-out x15, aggregates on bin-domain relations, a 15-row
    collect — driver traffic independent of row count."""
    li = load_table(spark, sf_dir, "lineitem")
    names = sorted(_MRMR_FEATS)
    structs = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            structs.append(
                f"struct('{a}_{b}' AS pr, {_MRMR_FEATS[a]} AS av,"
                f" {_MRMR_FEATS[b]} AS bv)"
            )
        structs.append(
            f"struct('{a}_y' AS pr, {_MRMR_FEATS[a]} AS av, {_MRMR_Y} AS bv)"
        )
    pairs = li.selectExpr(
        f"explode(array({', '.join(structs)})) AS s"
    ).select("s.pr", "s.av", "s.bv")
    joint = pairs.groupBy("pr", "av", "bv").agg(
        F.count("*").cast("long").alias("n_ab")
    )
    n = li.count()
    ma = joint.groupBy("pr", "av").agg(F.sum("n_ab").cast("long").alias("n_a"))
    mb = joint.groupBy("pr", "bv").agg(F.sum("n_ab").cast("long").alias("n_b"))
    cells = (
        joint.join(ma, ["pr", "av"])
        .join(mb, ["pr", "bv"])
        .withColumn("n", F.lit(n).cast("long"))
        .selectExpr("pr", f"{_MI_CELL} AS c_u")
    )
    mi = {
        r["pr"]: int(r["mi_u"])
        for r in cells.groupBy("pr")
        .agg(F.sum("c_u").cast("long").alias("mi_u"))
        .collect()
    }
    rel = {f: mi[f"{f}_y"] for f in names}
    red = {
        (a, b): mi[f"{a}_{b}"]
        for i, a in enumerate(names)
        for b in names[i + 1 :]
    }

    def red_of(f: str, s: str) -> int:
        return red[(min(f, s), max(f, s))]

    chosen: list[tuple[int, str, int, int]] = []
    selected: list[str] = []
    for step in range(1, _MRMR_K + 1):
        best = None
        for f in names:
            if f in selected:
                continue
            red_sum = sum(red_of(f, s) for s in selected)
            score = rel[f] * max(1, len(selected)) - red_sum
            key = (-score, f)
            if best is None or key < best[0]:
                best = (key, f, rel[f], red_sum)
        chosen.append((step, best[1], best[2], best[3]))
        selected.append(best[1])
    schema = T.StructType(
        [
            T.StructField("step", T.LongType()),
            T.StructField("feature", T.StringType()),
            T.StructField("rel_u", T.LongType()),
            T.StructField("red_sum", T.LongType()),
        ]
    )
    return (
        spark.createDataFrame(chosen, schema)
        .withColumn("n", F.lit(n).cast("long"))
        .selectExpr(*_MRMR_OUT)
        .orderBy("step")
    )

q_mrmr_feature_select.__doc__ = q_mrmr_feature_select.__doc__.format(_MRMR_K=_MRMR_K)
