"""Round-8 gate queries, batch 10.

- bfs_shortest_paths    — single-source BFS over the part co-purchase
                          graph (the missing member of the graph family:
                          CC computes components, PageRank/HITS scores,
                          k-core peels — BFS measures DISTANCE)
- cochran_armitage_trend — trend-in-proportions test across ordered
                          dose groups (the ORDERED-alternative upgrade
                          of gate:chi2_independence)
- ks_hash_uniformity    — one-sample KS of the h52 split hash against
                          the uniform law: the QA gate for every
                          hash-split/sampling operator in the engine

Determinism: BFS runs a FIXED round count on both engines (post-fixpoint
rounds are no-ops — the k_core discipline) with integer distances; the
CA statistic is exact-integer T' = N*sum(s*r) - R*sum(s*n) with one
shared-SQL z; the KS gap is an exact integer cross-product max.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.hashing import duckdb_h52, h52
from inferdb_spark.gate import gate

# ---------------------------------------------------------------------------
# Single-source BFS
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 12
_BFS_MIN_CO = 2  # co-occurrence weight threshold keeping the graph sparse

_BFS_EDGES_DUCK = f"""
    e AS MATERIALIZED (
      SELECT a.p AS u, b.p AS v FROM
        (SELECT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem) a
        JOIN
        (SELECT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p FROM lineitem) b
        ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING count(*) >= {_BFS_MIN_CO}
    ),
    nodes AS MATERIALIZED (
      SELECT u AS node FROM e UNION SELECT v FROM e
    ),
    src AS (SELECT CAST(min(node) AS BIGINT) AS s FROM nodes)"""


def _bfs_oracle() -> str:
    steps = ["""
    d0 AS MATERIALIZED (
      SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src
    )"""]
    for i in range(_BFS_ROUNDS):
        steps.append(f"""
    d{i + 1} AS MATERIALIZED (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM d{i}
        UNION ALL
        SELECT e.v AS node, d{i}.dist + 1 FROM e JOIN d{i} ON e.u = d{i}.node
        UNION ALL
        SELECT e.u AS node, d{i}.dist + 1 FROM e JOIN d{i} ON e.v = d{i}.node
      ) GROUP BY node
    )""")
    r = _BFS_ROUNDS
    return (
        "WITH "
        + _BFS_EDGES_DUCK
        + ","
        + ",".join(steps)
        + f""",
    final AS (
      SELECT nodes.node, CAST(coalesce(d{r}.dist, -1) AS BIGINT) AS dist
      FROM nodes LEFT JOIN d{r} ON nodes.node = d{r}.node
    )
    SELECT dist, CAST(count(*) AS BIGINT) AS n_parts
    FROM final GROUP BY dist ORDER BY dist
    """
    )


@gate("bfs_shortest_paths", oracle=_bfs_oracle())
def q_bfs_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS distances over the part co-purchase graph
    (parts linked when they share >= {co} order line pairs — the
    threshold keeps the graph sparse enough to have real distances, up
    to ~10 hops at sf0.01), reported as a distance histogram with -1
    for unreached nodes.  Completes the graph-operator family: CC says
    WHICH component, PageRank/HITS say HOW CENTRAL, k-core says HOW
    DENSE, BFS says HOW FAR.

    Determinism and scale: the frontier relaxation runs a FIXED
    {r}-round count on both engines (rounds past the true eccentricity
    are exact no-ops — the k_core / fixed-round discipline, so Spark
    and the unrolled MATERIALIZED-CTE oracle cannot diverge on when to
    stop); per-round state is one (node, dist) row per reached node,
    lineage truncated each round; distances are exact integers.  Each
    round is two keyed joins against the cached edge relation —
    O(rounds * |E|) total, the textbook distributed BFS."""
    li = load_table(spark, sf_dir, "lineitem")
    lp = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").cast("long").alias("p")
    )
    a = lp.alias("a")
    b = lp.alias("b")
    e = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= _BFS_MIN_CO)
        .select("u", "v")
        .persist()
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .persist()
    )
    src = nodes.agg(F.min("node")).collect()[0][0]
    d = spark.createDataFrame([(int(src), 0)], "node LONG, dist LONG")
    for _ in range(_BFS_ROUNDS):
        via_u = e.join(d, e.u == d.node).select(
            F.col("v").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        via_v = e.join(d, e.v == d.node).select(
            F.col("u").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        d = (
            d.unionByName(via_u)
            .unionByName(via_v)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
    final = nodes.join(d, "node", "left").select(
        F.coalesce(F.col("dist"), F.lit(-1)).cast("long").alias("dist")
    )
    out = (
        final.groupBy("dist")
        .agg(F.count("*").cast("long").alias("n_parts"))
        .orderBy("dist")
    )
    rows = out.collect()
    e.unpersist()
    nodes.unpersist()
    return spark.createDataFrame(rows, out.schema)


q_bfs_shortest_paths.__doc__ = q_bfs_shortest_paths.__doc__.format(
    co=_BFS_MIN_CO, r=_BFS_ROUNDS
)

# ---------------------------------------------------------------------------
# Cochran-Armitage trend test
# ---------------------------------------------------------------------------

_CA_OUT = [
    "n",
    "r_events",
    "t_scaled",
    # z = (T'/N) / sqrt( p(1-p) * (sum s^2 n - (sum s n)^2 / N) ), with
    # p = R/N — written-order doubles from the five exact BIGINTs
    "CAST(round((CAST(t_scaled AS DOUBLE) / CAST(n AS DOUBLE))"
    " / sqrt(((CAST(r_events AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (1.0 - CAST(r_events AS DOUBLE) / CAST(n AS DOUBLE)))"
    " * (CAST(s2n AS DOUBLE) - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)"
    " / CAST(n AS DOUBLE))), 6) AS DOUBLE) AS z6",
]


@gate(
    "cochran_armitage_trend",
    oracle=f"""
    WITH dosed AS (
      SELECT CAST(floor(CAST(round(l_quantity) AS BIGINT) / 10.0) AS BIGINT)
               AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS r_events,
             CAST(sum(s * y) AS BIGINT) AS sr,
             CAST(sum(s) AS BIGINT) AS sn,
             CAST(sum(s * s) AS BIGINT) AS s2n
      FROM dosed
    ),
    t AS (
      SELECT n, r_events, sn, s2n,
             CAST(n * sr - r_events * sn AS BIGINT) AS t_scaled
      FROM mom
    )
    SELECT {', '.join(_CA_OUT)} FROM t
    """,
)
def q_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a TREND in the return rate across
    ordered quantity-decade dose groups (scores s = quantity div 10):
    the ordered-alternative upgrade of gate:chi2_independence — chi2
    asks "are the proportions different at all", CA asks "do they rise
    or fall WITH the dose", which is the question a curation pipeline
    actually has about a quality score.

    Exactness: the five moments are exact BIGINTs from ONE pass, the
    trend numerator is kept pre-division as T' = N*sum(s*y) -
    R*sum(s*n) (exact — no proportion ever materializes early), and the
    single z composition runs in shared SQL.  Scale: one scan, one
    1-row aggregate, nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    dosed = li.selectExpr(
        "CAST(floor(CAST(round(l_quantity) AS BIGINT) / 10.0) AS BIGINT) AS s",
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y",
    )
    mom = dosed.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("r_events"),
        F.sum(F.col("s") * F.col("y")).cast("long").alias("sr"),
        F.sum("s").cast("long").alias("sn"),
        F.sum(F.col("s") * F.col("s")).cast("long").alias("s2n"),
    )
    t = mom.select(
        "n",
        "r_events",
        "sn",
        "s2n",
        (F.col("n") * F.col("sr") - F.col("r_events") * F.col("sn"))
        .cast("long")
        .alias("t_scaled"),
    )
    return t.selectExpr(*_CA_OUT)


# ---------------------------------------------------------------------------
# KS uniformity audit of the h52 split hash
# ---------------------------------------------------------------------------

_KSU_BINS = 1000
_KSU_MOD = 1_000_000


@gate(
    "ks_hash_uniformity",
    oracle=f"""
    WITH hashed AS (
      SELECT ({duckdb_h52("CAST(o_orderkey AS VARCHAR)")}) % {_KSU_MOD} AS u
      FROM orders
    ),
    binned AS (
      SELECT CAST(u // {_KSU_MOD // _KSU_BINS} AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS t
      FROM hashed GROUP BY 1
    ),
    cum AS (
      SELECT b, t,
             CAST(sum(t) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS c,
             CAST(sum(t) OVER () AS BIGINT) AS n
      FROM binned
    ),
    gaps AS (
      SELECT n,
             CAST(max(abs(c * {_KSU_BINS} - (b + 1) * n)) AS BIGINT) AS g_hi,
             CAST(max(abs((c - t) * {_KSU_BINS} - b * n)) AS BIGINT) AS g_lo
      FROM cum GROUP BY n
    )
    SELECT n,
           CAST(greatest(g_hi, g_lo) AS BIGINT) AS d_num,
           CAST(round(CAST(greatest(g_hi, g_lo) AS DOUBLE)
                / (CAST(n AS DOUBLE) * {_KSU_BINS}.0), 6) AS DOUBLE) AS d6,
           CAST(round((CAST(greatest(g_hi, g_lo) AS DOUBLE)
                / (CAST(n AS DOUBLE) * {_KSU_BINS}.0))
                * sqrt(CAST(n AS DOUBLE)), 6) AS DOUBLE) AS ks_scaled6
    FROM gaps
    """,
)
def q_ks_hash_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample Kolmogorov-Smirnov uniformity audit of the engine's
    own h52 split hash (md5-prefix, mod 1e6), evaluated on the
    {bins}-bin grid: D = max over bin edges of |F_emp - F_uniform|,
    plus sqrt(n)*D for the asymptotic test — the QA gate behind every
    hash-split, reservoir, and mixing operator here (if this hash were
    biased, every split downstream would be too).  A sound hash keeps
    sqrt(n)*D comfortably under the 1.36 (5%) critical value.

    Exactness: the CDF gap maximum is computed over exact integer
    cross-products c*bins - (b+1)*n (both edges of every occupied bin;
    the sup over a piecewise-constant-vs-linear gap on a grid is
    attained at a bin edge), so D is an exact rational and only the
    final display divisions run in (shared) doubles.  Scale: one
    hash projection + one bin-domain aggregate + windows over the
    {bins}-row bin relation.""".format(bins=_KSU_BINS)
    orders = load_table(spark, sf_dir, "orders")
    hashed = orders.select(
        (h52(F.col("o_orderkey").cast("string")) % F.lit(_KSU_MOD)).alias("u")
    )
    binned = hashed.groupBy(
        F.expr(f"CAST(u div {_KSU_MOD // _KSU_BINS} AS BIGINT)").alias("b")
    ).agg(F.count("*").cast("long").alias("t"))
    wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = binned.select(
        "b",
        "t",
        F.sum("t").over(wc).cast("long").alias("c"),
        F.sum("t").over(w_all).cast("long").alias("n"),
    )
    gaps = cum.groupBy("n").agg(
        F.max(F.abs(F.col("c") * _KSU_BINS - (F.col("b") + 1) * F.col("n")))
        .cast("long")
        .alias("g_hi"),
        F.max(
            F.abs((F.col("c") - F.col("t")) * _KSU_BINS - F.col("b") * F.col("n"))
        )
        .cast("long")
        .alias("g_lo"),
    )
    return gaps.selectExpr(
        "n",
        "CAST(greatest(g_hi, g_lo) AS BIGINT) AS d_num",
        f"CAST(round(CAST(greatest(g_hi, g_lo) AS DOUBLE)"
        f" / (CAST(n AS DOUBLE) * {_KSU_BINS}.0), 6) AS DOUBLE) AS d6",
        f"CAST(round((CAST(greatest(g_hi, g_lo) AS DOUBLE)"
        f" / (CAST(n AS DOUBLE) * {_KSU_BINS}.0))"
        f" * sqrt(CAST(n AS DOUBLE)), 6) AS DOUBLE) AS ks_scaled6",
    )
