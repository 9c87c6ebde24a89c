"""Gate queries: KNN classification and categorical Naive Bayes as
relational algebra (the reference's MADlib `madlib.knn` and PGML/MADlib
in-database-training paths, src/transpiler.py:2650-2700 / 2032-2101).

Both operators follow the repo determinism rules: integer-scaled feature
distances (BIGINT squared euclidean — no FP rank ambiguity), integer
micro-nat log-likelihoods, and lowest-value tie-breaks on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.gate import QTY_SPLITS, _bin_expr_sql, gate
from inferdb_spark.operators import knn as KNN
from inferdb_spark.operators import naive_bayes as NB
from inferdb_spark.operators.binning import BinSpec

K_NEIGHBORS = 5

# shared relational prep: integer-scaled features + label, train/test split.
# probe side is tiny (l_orderkey % 2500 = 1) so the brute-force cross join
# broadcasts it — the MADlib usage shape (small batch vs big train relation).
# Train is 1% of orders: the gate proves exact neighbor semantics, and the
# pair count stays scale-proportionate (sf1 = 2.4k probes x 60k train); the
# brute-force operator is documented for the small-probe regime only — the
# 100 TB path is knn_classify_ivf (partition-pruned shortlist).
_KNN_BASE_SQL = """
    base AS (
      SELECT l_orderkey*10 + l_linenumber AS row_id,
             CAST(round(l_quantity*100) AS BIGINT)  AS fq,
             CAST(round(l_discount*10000) AS BIGINT) AS fd,
             CAST(round(l_tax*10000) AS BIGINT)      AS ft,
             CAST(round(l_extendedprice*100) AS BIGINT) AS pc,
             l_returnflag AS label,
             l_orderkey AS ok
      FROM lineitem
    ),
    test  AS (SELECT * FROM base WHERE ok % 2500 = 1),
    train AS (SELECT * FROM base WHERE ok % 100 = 0)
"""


def _knn_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("fq"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("fd"),
        F.round(F.col("l_tax") * 10000).cast("long").alias("ft"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
        F.col("l_returnflag").alias("label"),
        F.col("l_orderkey").alias("ok"),
    )
    test = base.filter(F.col("ok") % 2500 == 1)
    train = base.filter(F.col("ok") % 100 == 0)
    return test, train


@gate(
    "knn_classify",
    oracle=f"""
    WITH {_KNN_BASE_SQL},
    cand AS (
      SELECT t.row_id AS tk, r.label,
             row_number() OVER (
               PARTITION BY t.row_id
               ORDER BY (t.fq - r.fq) * (t.fq - r.fq)
                      + (t.fd - r.fd) * (t.fd - r.fd)
                      + (t.ft - r.ft) * (t.ft - r.ft) ASC,
                        r.row_id ASC
             ) AS rn
      FROM test t CROSS JOIN train r
    ),
    votes AS (
      SELECT tk, label, count(*) AS c FROM cand WHERE rn <= {K_NEIGHBORS}
      GROUP BY tk, label
    ),
    mx AS (SELECT tk, max(c) AS mc FROM votes GROUP BY tk)
    SELECT CAST(v.tk AS BIGINT) AS row_id, min(v.label) AS predicted
    FROM votes v JOIN mx ON v.tk = mx.tk AND v.c = mx.mc
    GROUP BY v.tk
    """,
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force relational KNN (operators/knn.knn_classify): broadcast
    probe side, exact BIGINT squared-euclidean distances, two-stage salted
    top-k (no global per-key sort), majority vote with lowest-label
    tie-break.  Rank order is bit-deterministic because distances are
    integers and ties fall back to the unique train row_id."""
    test, train = _knn_frames(spark, sf_dir)
    return KNN.knn_classify(
        test, train, ["fq", "fd", "ft"], "label", K_NEIGHBORS,
        test_key="row_id", train_key="row_id",
    )


@gate(
    "knn_regress",
    oracle=f"""
    WITH {_KNN_BASE_SQL},
    cand AS (
      SELECT t.row_id AS tk, r.pc,
             row_number() OVER (
               PARTITION BY t.row_id
               ORDER BY (t.fq - r.fq) * (t.fq - r.fq)
                      + (t.fd - r.fd) * (t.fd - r.fd)
                      + (t.ft - r.ft) * (t.ft - r.ft) ASC,
                        r.row_id ASC
             ) AS rn
      FROM test t CROSS JOIN train r
    )
    SELECT CAST(tk AS BIGINT) AS row_id,
           round(CAST(sum(pc) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS predicted
    FROM cand WHERE rn <= {K_NEIGHBORS}
    GROUP BY tk
    """,
)
def q_knn_regress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN REGRESSION (operators/knn.knn_regress): same deterministic
    neighbor search as gate:knn_classify (exact BIGINT distances, unique
    train-row_id tie-break), prediction = mean of the k neighbors'
    extended-price cents (MADlib knn with a response column, reference
    src/transpiler.py:2599-2633).  The cents sum is exact on both engines;
    the one division is rounded to 6dp per the determinism rules."""
    test, train = _knn_frames(spark, sf_dir)
    return KNN.knn_regress(
        test, train, ["fq", "fd", "ft"], "pc", K_NEIGHBORS,
        test_key="row_id", train_key="row_id",
    )


# --- Naive Bayes: features are categorical strings on both engines --------

_NB_BASE_SQL = f"""
    base AS (
      SELECT l_orderkey*10 + l_linenumber AS row_id,
             l_returnflag AS y,
             CAST(l_linestatus AS VARCHAR) AS ls,
             CAST({_bin_expr_sql('l_quantity', QTY_SPLITS)} AS VARCHAR) AS qb,
             CAST(CAST(l_discount >= 0.05 AS INT) AS VARCHAR) AS db,
             l_orderkey AS ok
      FROM lineitem
    ),
    train AS (SELECT * FROM base WHERE ok % 5 <> 0),
    test  AS (SELECT * FROM base WHERE ok % 5 = 0),
    melt AS (
      SELECT y, 'ls' AS f, ls AS v FROM train
      UNION ALL SELECT y, 'qb', qb FROM train
      UNION ALL SELECT y, 'db', db FROM train
    ),
    classes AS (SELECT y, CAST(count(*) AS BIGINT) AS n_y FROM train GROUP BY y),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM train),
    vdom AS (SELECT f, CAST(count(DISTINCT v) AS BIGINT) AS vn FROM melt GROUP BY f),
    fvy AS (SELECT f, v, y, CAST(count(*) AS BIGINT) AS n_fvy FROM melt GROUP BY f, v, y),
    cond AS (
      SELECT f, v, y,
             CAST(round(ln((n_fvy + 1.0) / (n_y + 1.0 * vn)) * 1000000) AS BIGINT) AS ll
      FROM fvy JOIN classes USING (y) JOIN vdom USING (f)
    ),
    defaults AS (
      SELECT f, y,
             CAST(round(ln(1.0 / (n_y + 1.0 * vn)) * 1000000) AS BIGINT) AS ll
      FROM vdom CROSS JOIN classes
    ),
    priors AS (
      SELECT y, CAST(round(ln(n_y / n) * 1000000) AS BIGINT) AS lp
      FROM classes CROSS JOIN tot
    )
"""


def _nb_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        F.col("l_returnflag").alias("y"),
        F.col("l_linestatus").cast("string").alias("ls"),
        BinSpec("l_quantity", splits=QTY_SPLITS).expr().cast("string").alias("qb"),
        (F.col("l_discount") >= 0.05).cast("int").cast("string").alias("db"),
        F.col("l_orderkey").alias("ok"),
    )
    train = base.filter(F.col("ok") % 5 != 0)
    test = base.filter(F.col("ok") % 5 == 0)
    return train, test


@gate(
    "naive_bayes_model",
    oracle=f"""
    WITH {_NB_BASE_SQL}
    SELECT f, v, y, ll FROM cond
    """,
)
def q_naive_bayes_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted NB model IS a relation (operators/naive_bayes.fit_nb):
    per-(feature, value, class) Laplace-smoothed log-likelihoods stored as
    integer micro-nats.  Fit = one melt (stack, zero-shuffle) + three
    aggregates over the train scan."""
    train, _ = _nb_frames(spark, sf_dir)
    _, cond, _ = NB.fit_nb(train, ["ls", "qb", "db"], "y", alpha=1.0)
    return cond


@gate(
    "naive_bayes_score",
    oracle=f"""
    WITH {_NB_BASE_SQL},
    tm AS (
      SELECT row_id, 'ls' AS f, ls AS v FROM test
      UNION ALL SELECT row_id, 'qb', qb FROM test
      UNION ALL SELECT row_id, 'db', db FROM test
    ),
    cand AS (SELECT tm.row_id, tm.f, tm.v, c.y FROM tm CROSS JOIN classes c),
    joined AS (
      SELECT cand.row_id, cand.y, coalesce(co.ll, d.ll) AS ll
      FROM cand
      LEFT JOIN cond co ON cand.f = co.f AND cand.v = co.v AND cand.y = co.y
      JOIN defaults d ON cand.f = d.f AND cand.y = d.y
    ),
    per_class AS (
      SELECT row_id, y, CAST(sum(ll) AS BIGINT) AS fsum
      FROM joined GROUP BY row_id, y
    ),
    scored AS (
      SELECT row_id, y, fsum + lp AS score FROM per_class JOIN priors USING (y)
    ),
    mx AS (SELECT row_id, max(score) AS ms FROM scored GROUP BY row_id)
    SELECT CAST(s.row_id AS BIGINT) AS row_id, min(s.y) AS predicted,
           CAST(max(s.score) AS BIGINT) AS score
    FROM scored s JOIN mx ON s.row_id = mx.row_id AND s.score = mx.ms
    GROUP BY s.row_id
    """,
)
def q_naive_bayes_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB scoring (operators/naive_bayes.fit_score_nb): melt the test
    relation, broadcast-join the tiny model relations, sum integer
    micro-nats per (row, class), argmax with highest-score-then-lowest-label
    tie-break.  The 100 TB shape: no shuffle wider than
    |test| · n_features · n_classes, every model join a broadcast."""
    train, test = _nb_frames(spark, sf_dir)
    return NB.fit_score_nb(train, test, "row_id", ["ls", "qb", "db"], "y", alpha=1.0)
