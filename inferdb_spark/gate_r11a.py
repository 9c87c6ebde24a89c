"""Round-11 gate queries, batch a.

Preference-learning and ranking-evaluation operators — the statistics
an LLM-training pipeline runs over pairwise human/model preferences and
retrieval evals (the RLHF/eval side the relational families don't
cover):

- bradley_terry_mm   — Bradley-Terry strength fit over pairwise order
                       "matches" (3 minorization-maximization rounds,
                       fully relational, micro-quantized ratings)
- elo_weekly_batch   — weekly-batched Elo ratings as a time-ORDERED
                       fold (the ewma/holt fold pattern; per-step 6dp
                       rounding keeps both engines in lockstep)
- dawid_skene_round  — one Dawid-Skene EM round over three synthetic
                       annotators: confusion matrices from the
                       majority-vote init, then per-item posterior
                       relabeling (annotation quality control)
- ndcg_at_k          — graded-relevance NDCG@10 for three single-term
                       retrieval queries over the documents corpus
- mrr_first_relevant — reciprocal rank of the first grade>=2 document
                       per query (the MRR companion)

Match construction (shared by BT and Elo): per customer, consecutive
orders (date, orderkey ordered) form a match between the two orders'
priority classes (1..5); the higher total price wins, exact-cents tie
to the earlier order.  Deterministic, one window over the orders scan.

Determinism: integer win/game counts; ratings quantized to micro
BIGINT after every MM round; Elo folds a (week, i, j) ORDERED array
with per-step 6dp rounds; NDCG per-rank terms micro-quantized before
the sum; every denominator nullif-guarded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inferdb_spark.catalog import load_table
from inferdb_spark.functions.hashing import duckdb_h52, h52
from inferdb_spark.functions.text import duckdb_tokens
from inferdb_spark.gate import gate

# ---------------------------------------------------------------------------
# shared match relation: consecutive same-customer orders
# ---------------------------------------------------------------------------

# DuckDB twin of the match construction (priority digit 1..5; winner by
# exact cents, ties to the earlier order)
_MATCHES_DUCK = """
    seq AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pr,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderdate,
             lag(CAST(substr(o_orderpriority, 1, 1) AS BIGINT))
               OVER w AS prev_pr,
             lag(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
               AS prev_cents
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    ),
    matches AS (
      SELECT prev_pr AS p_early, pr AS p_late,
             CASE WHEN cents > prev_cents THEN 1 ELSE 0 END AS late_wins,
             CAST(datediff('day', DATE '1970-01-01', o_orderdate) // 7
                  AS BIGINT) AS wk
      FROM seq
      WHERE prev_pr IS NOT NULL AND prev_pr <> pr
    )
"""


def _matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p_early, p_late, late_wins, wk) for consecutive same-customer
    order pairs with differing priorities — ONE lag window over the
    orders scan, no self-join."""
    od = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    pr = F.substring("o_orderpriority", 1, 1).cast("long")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    seq = od.select(
        pr.alias("pr"),
        cents.alias("cents"),
        "o_orderdate",
        F.lag(pr).over(w).alias("prev_pr"),
        F.lag(cents).over(w).alias("prev_cents"),
    )
    return seq.where(
        F.col("prev_pr").isNotNull() & (F.col("prev_pr") != F.col("pr"))
    ).select(
        F.col("prev_pr").alias("p_early"),
        F.col("pr").alias("p_late"),
        F.when(F.col("cents") > F.col("prev_cents"), 1)
        .otherwise(0)
        .alias("late_wins"),
        F.expr(
            "CAST(datediff(o_orderdate, DATE '1970-01-01') div 7 AS BIGINT)"
        ).alias("wk"),
    )


# ---------------------------------------------------------------------------
# Bradley-Terry minorization-maximization fit
# ---------------------------------------------------------------------------

_BT_ROUNDS = 3

# one MM round in shared SQL fragments over (i, j, n_ij) x ratings:
#   t_ij = round(1e9 * n_ij / (p_i + p_j))   [p in micro units]
#   p'_i = round(1e9 * W_i / S_i),  S_i = sum_j t_ij
_BT_T = (
    "CAST(round(1000000000.0 * CAST(n AS DOUBLE)"
    " / nullif(CAST(pi_m + pj_m AS DOUBLE), 0.0)) AS BIGINT)"
)
_BT_P = (
    "CAST(round(1000000000.0 * CAST(w AS DOUBLE)"
    " / nullif(CAST(s AS DOUBLE), 0.0)) AS BIGINT)"
)


@gate(
    "bradley_terry_mm",
    oracle=f"""
    WITH {_MATCHES_DUCK},
    games AS (
      SELECT p_early AS i, p_late AS j, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(1 - late_wins) AS BIGINT) AS w_i
      FROM matches GROUP BY i, j
    ),
    sym AS (
      SELECT i, j, n, w_i FROM games
      UNION ALL
      SELECT j AS i, i AS j, n, n - w_i AS w_i FROM games
    ),
    pair AS (
      SELECT i, j, CAST(sum(n) AS BIGINT) AS n FROM sym GROUP BY i, j
    ),
    wins AS (
      SELECT i, CAST(sum(w_i) AS BIGINT) AS w, CAST(sum(n) AS BIGINT) AS g
      FROM sym GROUP BY i
    ),
    r0 AS MATERIALIZED (
      SELECT i, CAST(1000000 AS BIGINT) AS p_m FROM wins
    ),
    {", ".join(
        f'''s{r} AS (
      SELECT q.i, CAST(sum({_BT_T}) AS BIGINT) AS s FROM (
        SELECT pair.i AS i, pair.n AS n, ri.p_m AS pi_m, rj.p_m AS pj_m
        FROM pair
        JOIN r{r} ri ON pair.i = ri.i
        JOIN r{r} rj ON pair.j = rj.i
      ) q GROUP BY q.i
    ),
    r{r + 1} AS MATERIALIZED (
      SELECT w.i, {_BT_P} AS p_m
      FROM s{r} t JOIN wins w ON t.i = w.i
    )''' for r in range(_BT_ROUNDS))},
    tot AS (SELECT CAST(sum(p_m) AS BIGINT) AS tp FROM r{_BT_ROUNDS})
    SELECT w.i AS player, w.w AS wins, w.g AS games,
           CAST(round(CAST(r.p_m AS DOUBLE) / nullif(CAST(tp AS DOUBLE), 0.0),
                      6) AS DOUBLE) AS share6
    FROM wins w JOIN r{_BT_ROUNDS} r ON w.i = r.i CROSS JOIN tot
    ORDER BY player
    """,
)
def q_bradley_terry_mm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths for the five order-priority classes from
    pairwise consecutive-order matches, fitted with {_BT_ROUNDS} MM
    rounds (Hunter 2004): p'_i = W_i / Σ_j n_ij/(p_i+p_j) — the
    canonical pairwise-preference model behind RLHF reward aggregation
    and ranking leaderboards.

    Exactness: win/game counts are exact; each round's per-opponent
    terms are nano-quantized BIGINTs before the per-player sum, and
    ratings re-quantize to micro after every round, so all
    {_BT_ROUNDS} rounds replay bit-identically in the oracle's
    MATERIALIZED CTE chain.  Final shares are one 6dp division.
    Scale: the match build is one window + self-join per customer
    partition; everything after runs on the 5x5 player domain."""
    m = _matches(spark, sf_dir)
    # the 5x5 win matrix feeds every MM round — persist it so the
    # orders window runs once, not once per round
    games = m.groupBy(
        F.col("p_early").alias("i"), F.col("p_late").alias("j")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(1 - F.col("late_wins")).cast("long").alias("w_i"),
    ).persist()
    sym = games.unionByName(
        games.select(
            F.col("j").alias("i"),
            F.col("i").alias("j"),
            "n",
            (F.col("n") - F.col("w_i")).alias("w_i"),
        )
    )
    pair = sym.groupBy("i", "j").agg(F.sum("n").cast("long").alias("n"))
    wins = sym.groupBy("i").agg(
        F.sum("w_i").cast("long").alias("w"), F.sum("n").cast("long").alias("g")
    )
    from inferdb_spark.scale import rotate_local_checkpoint

    # ratings enters each round TWICE (both join sides) — without a
    # per-round lineage cut the final plan embeds 2^rounds copies of
    # the whole upstream chain (the MATERIALIZED-CTE rule, Spark side)
    ratings = wins.select(
        "i", F.lit(1000000).cast("long").alias("p_m")
    ).localCheckpoint(eager=True)
    last_ckpt = ratings
    for _ in range(_BT_ROUNDS):
        ri = ratings.select(F.col("i").alias("_i"), F.col("p_m").alias("pi_m"))
        rj = ratings.select(F.col("i").alias("_j"), F.col("p_m").alias("pj_m"))
        s = (
            pair.join(ri, pair["i"] == ri["_i"])
            .join(rj, pair["j"] == rj["_j"])
            .selectExpr("i", f"{_BT_T} AS t")
            .groupBy("i")
            .agg(F.sum("t").cast("long").alias("s"))
        )
        ratings = rotate_local_checkpoint(
            s.join(wins, "i").selectExpr("i", f"{_BT_P} AS p_m"), last_ckpt
        )
        last_ckpt = ratings
    tot = ratings.agg(F.sum("p_m").cast("long").alias("tp"))
    return (
        wins.join(ratings, "i")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(i AS BIGINT) AS player",
            "w AS wins",
            "g AS games",
            "CAST(round(CAST(p_m AS DOUBLE) / nullif(CAST(tp AS DOUBLE), 0.0),"
            " 6) AS DOUBLE) AS share6",
        )
        .orderBy("player")
    )


# ---------------------------------------------------------------------------
# Weekly-batched Elo as a time-ordered fold
# ---------------------------------------------------------------------------

_ELO_K = 4.0
_ELO_INIT = 1000.0


@gate(
    "elo_weekly_batch",
    oracle=f"""
    WITH {_MATCHES_DUCK},
    wkagg AS (
      SELECT wk,
             least(p_early, p_late) AS a, greatest(p_early, p_late) AS b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN (p_early < p_late AND late_wins = 0)
                             OR (p_late < p_early AND late_wins = 1)
                           THEN 1 ELSE 0 END) AS BIGINT) AS w
      FROM matches GROUP BY wk, a, b
    ),
    series AS (
      SELECT list([CAST(wk AS DOUBLE), CAST(a AS DOUBLE), CAST(b AS DOUBLE),
                   CAST(n AS DOUBLE), CAST(w AS DOUBLE)]
                  ORDER BY wk, a, b) AS xs
      FROM wkagg
    ),
    folded AS (
      SELECT list_reduce(
        list_prepend([{_ELO_INIT!r}, {_ELO_INIT!r}, {_ELO_INIT!r},
                      {_ELO_INIT!r}, {_ELO_INIT!r}], xs),
        (acc, x) -> list_transform([1, 2, 3, 4, 5], k ->
          CASE WHEN k = CAST(x[2] AS INT) THEN acc[k]
                 + round({_ELO_K!r} * (x[5] - x[4]
                   * round(1.0 / (1.0 + pow(10.0,
                     (acc[CAST(x[3] AS INT)] - acc[CAST(x[2] AS INT)])
                     / 400.0)), 6)), 6)
               WHEN k = CAST(x[3] AS INT) THEN acc[k]
                 - round({_ELO_K!r} * (x[5] - x[4]
                   * round(1.0 / (1.0 + pow(10.0,
                     (acc[CAST(x[3] AS INT)] - acc[CAST(x[2] AS INT)])
                     / 400.0)), 6)), 6)
               ELSE acc[k] END)
      ) AS r FROM series
    ),
    players AS (SELECT unnest([1, 2, 3, 4, 5]) AS player),
    gp AS (
      SELECT a AS p, n FROM wkagg UNION ALL SELECT b AS p, n FROM wkagg
    ),
    tot AS (SELECT p, CAST(sum(n) AS BIGINT) AS games FROM gp GROUP BY p)
    SELECT CAST(player AS BIGINT) AS player,
           coalesce(tot.games, 0) AS games,
           CAST(round(r[player], 6) AS DOUBLE) AS rating6
    FROM players CROSS JOIN folded LEFT JOIN tot ON players.player = tot.p
    ORDER BY player
    """,
)
def q_elo_weekly_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-batched Elo ratings for the five priority classes: each
    (week, pair) cell updates both ratings once with the aggregate
    score vs expectation — the standard large-scale Elo batching (per
    week the pair plays n games, scores w; delta = K(w - n·E)).  The
    sequential-rating family member the leaderboard/marts stack needs
    beside the order-free Bradley-Terry fit.

    Determinism: the (week, a, b) cells aggregate exactly; the fold
    runs over the SORTED cell array (array_sort on [wk,a,b,n,w] rows =
    ORDER BY wk,a,b — the ewma/holt ordered-fold pattern), and both
    the expectation (a pow-10 transcendental) and the delta round to
    6dp at every step, so Spark's F.aggregate and DuckDB's list_reduce
    walk identical doubles.  Scale: one window + one groupBy(week,
    pair); the fold length is week-domain x 10 pairs, SF-invariant."""
    from inferdb_spark.functions.text import bind_once

    m = _matches(spark, sf_dir)
    a = F.least("p_early", "p_late")
    b = F.greatest("p_early", "p_late")
    early_is_a = F.col("p_early") < F.col("p_late")
    a_won = (early_is_a & (F.col("late_wins") == 0)) | (
        ~early_is_a & (F.col("late_wins") == 1)
    )
    wkagg = m.groupBy(
        "wk", a.alias("a"), b.alias("b")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(a_won, 1).otherwise(0)).cast("long").alias("w"),
    )
    series = wkagg.agg(
        F.array_sort(
            F.collect_list(
                F.array(
                    F.col("wk").cast("double"),
                    F.col("a").cast("double"),
                    F.col("b").cast("double"),
                    F.col("n").cast("double"),
                    F.col("w").cast("double"),
                )
            )
        ).alias("xs")
    )
    init = F.array(*[F.lit(_ELO_INIT).cast("double") for _ in range(5)])

    def step(acc, x):
        ia = F.element_at(x, 2).cast("int")
        ib = F.element_at(x, 3).cast("int")
        expect = F.round(
            1.0
            / (
                1.0
                + F.pow(
                    F.lit(10.0),
                    (F.element_at(acc, ib) - F.element_at(acc, ia)) / 400.0,
                )
            ),
            6,
        )
        delta = F.round(
            F.lit(_ELO_K) * (F.element_at(x, 5) - F.element_at(x, 4) * expect),
            6,
        )

        def apply(d):
            def upd(k):
                return (
                    F.when(k == ia, F.element_at(acc, k) + d)
                    .when(k == ib, F.element_at(acc, k) - d)
                    .otherwise(F.element_at(acc, k))
                )

            return F.transform(F.sequence(F.lit(1), F.lit(5)), upd)

        return bind_once(delta, apply)

    folded = series.select(
        F.aggregate(F.col("xs"), init, step).alias("r")
    )
    gp = wkagg.select(F.col("a").alias("p"), "n").unionByName(
        wkagg.select(F.col("b").alias("p"), "n")
    )
    tot = gp.groupBy("p").agg(F.sum("n").cast("long").alias("games"))
    players = wkagg.sparkSession.range(1, 6).select(
        F.col("id").cast("long").alias("player")
    )
    return (
        players.crossJoin(F.broadcast(folded))
        .join(tot, players["player"] == tot["p"], "left")
        .select(
            "player",
            F.coalesce("games", F.lit(0)).cast("long").alias("games"),
            F.round(F.element_at(F.col("r"), F.col("player").cast("int")), 6)
            .cast("double")
            .alias("rating6"),
        )
        .orderBy("player")
    )


# ---------------------------------------------------------------------------
# Dawid-Skene EM round over three synthetic annotators
# ---------------------------------------------------------------------------

_DS_THRESH_CENTS = 15_000_000  # $150k — the "big order" truth-ish label


@gate(
    "dawid_skene_round",
    oracle=f"""
    WITH items AS (
      SELECT o_orderkey AS item,
             CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT)
                       >= {_DS_THRESH_CENTS} THEN 1 ELSE 0 END AS t
      FROM orders
    ),
    labels AS (
      SELECT item, k,
             CASE WHEN ({duckdb_h52(
                 "'ds' || CAST(k AS VARCHAR) || '|' || CAST(item AS VARCHAR)"
             )}) % 100 < 10 * k
                  THEN 1 - t ELSE t END AS lab
      FROM items CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)
    ),
    wide AS (
      SELECT item,
             max(CASE WHEN k = 1 THEN lab END) AS l1,
             max(CASE WHEN k = 2 THEN lab END) AS l2,
             max(CASE WHEN k = 3 THEN lab END) AS l3
      FROM labels GROUP BY item
    ),
    maj AS (
      SELECT item, l1, l2, l3,
             CASE WHEN l1 + l2 + l3 >= 2 THEN 1 ELSE 0 END AS m
      FROM wide
    ),
    conf AS (
      SELECT l.k, m.m, l.lab, CAST(count(*) AS BIGINT) AS c
      FROM labels l JOIN maj m ON l.item = m.item
      GROUP BY l.k, m.m, l.lab
    ),
    cw AS (
      SELECT
        CAST(sum(CASE WHEN k=1 AND m=1 AND lab=1 THEN c ELSE 0 END) AS DOUBLE) AS c111,
        CAST(sum(CASE WHEN k=1 AND m=1 AND lab=0 THEN c ELSE 0 END) AS DOUBLE) AS c110,
        CAST(sum(CASE WHEN k=1 AND m=0 AND lab=1 THEN c ELSE 0 END) AS DOUBLE) AS c101,
        CAST(sum(CASE WHEN k=1 AND m=0 AND lab=0 THEN c ELSE 0 END) AS DOUBLE) AS c100,
        CAST(sum(CASE WHEN k=2 AND m=1 AND lab=1 THEN c ELSE 0 END) AS DOUBLE) AS c211,
        CAST(sum(CASE WHEN k=2 AND m=1 AND lab=0 THEN c ELSE 0 END) AS DOUBLE) AS c210,
        CAST(sum(CASE WHEN k=2 AND m=0 AND lab=1 THEN c ELSE 0 END) AS DOUBLE) AS c201,
        CAST(sum(CASE WHEN k=2 AND m=0 AND lab=0 THEN c ELSE 0 END) AS DOUBLE) AS c200,
        CAST(sum(CASE WHEN k=3 AND m=1 AND lab=1 THEN c ELSE 0 END) AS DOUBLE) AS c311,
        CAST(sum(CASE WHEN k=3 AND m=1 AND lab=0 THEN c ELSE 0 END) AS DOUBLE) AS c310,
        CAST(sum(CASE WHEN k=3 AND m=0 AND lab=1 THEN c ELSE 0 END) AS DOUBLE) AS c301,
        CAST(sum(CASE WHEN k=3 AND m=0 AND lab=0 THEN c ELSE 0 END) AS DOUBLE) AS c300
      FROM conf
    ),
    pri AS (
      SELECT CAST(sum(m) AS DOUBLE) AS n1, CAST(count(*) AS DOUBLE) AS nn
      FROM maj
    ),
    post AS (
      SELECT item, m,
             (n1 / nullif(nn - n1, 0.0))
             * (CASE WHEN l1 = 1 THEN c111 ELSE c110 END
                / nullif(c111 + c110, 0.0))
             / nullif(CASE WHEN l1 = 1 THEN c101 ELSE c100 END
                      / nullif(c101 + c100, 0.0), 0.0)
             * (CASE WHEN l2 = 1 THEN c211 ELSE c210 END
                / nullif(c211 + c210, 0.0))
             / nullif(CASE WHEN l2 = 1 THEN c201 ELSE c200 END
                      / nullif(c201 + c200, 0.0), 0.0)
             * (CASE WHEN l3 = 1 THEN c311 ELSE c310 END
                / nullif(c311 + c310, 0.0))
             / nullif(CASE WHEN l3 = 1 THEN c301 ELSE c300 END
                      / nullif(c301 + c300, 0.0), 0.0)
               AS odds
      FROM maj CROSS JOIN cw CROSS JOIN pri
    )
    SELECT
      CAST((SELECT count(*) FROM maj) AS BIGINT) AS n_items,
      CAST(round((SELECT n1 / nullif(nn, 0.0) FROM pri), 6) AS DOUBLE) AS p1_6,
      CAST(round((SELECT (c110 + c101) / nullif(c111 + c110 + c101 + c100, 0.0)
                  FROM cw), 6) AS DOUBLE) AS err1_6,
      CAST(round((SELECT (c210 + c201) / nullif(c211 + c210 + c201 + c200, 0.0)
                  FROM cw), 6) AS DOUBLE) AS err2_6,
      CAST(round((SELECT (c310 + c301) / nullif(c311 + c310 + c301 + c300, 0.0)
                  FROM cw), 6) AS DOUBLE) AS err3_6,
      CAST((SELECT sum(CASE WHEN (odds > 1.0) <> (m = 1) THEN 1 ELSE 0 END)
            FROM post) AS BIGINT) AS n_flipped,
      CAST((SELECT sum(CASE WHEN odds > 1.0 THEN 1 ELSE 0 END) FROM post)
           AS BIGINT) AS n_pos_posterior
    """,
)
def q_dawid_skene_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Dawid-Skene EM round over three synthetic annotators with
    10/20/30% hash-seeded error rates labeling "is this a big order":
    majority-vote init → per-annotator 2x2 confusion → per-item
    posterior odds under the class prior → relabel.  The annotation
    quality-control operator (which annotators to trust, which items to
    re-label) every labeled-data pipeline needs; one round is the
    EM-step primitive, replayed exactly by the oracle.

    Determinism: confusion cells and the prior are exact counts; each
    item's posterior odds is a FIXED-ORDER product of count ratios (no
    cross-row double sum anywhere), so both engines compare the
    identical double against 1; outputs are integer counts + 6dp
    rates, nullif-guarded for empty confusion margins/prior.  Scale:
    one groupBy(item) pivot + one 12-cell reduce; the posterior is a
    broadcast of the 1-row confusion onto a row-linear projection."""
    od = load_table(spark, sf_dir, "orders")
    items = od.select(
        F.col("o_orderkey").alias("item"),
        F.when(
            F.round(F.col("o_totalprice") * 100).cast("long")
            >= _DS_THRESH_CENTS,
            1,
        )
        .otherwise(0)
        .alias("t"),
    )
    ks = spark.range(1, 4).select(F.col("id").cast("long").alias("k"))
    labels = items.crossJoin(F.broadcast(ks)).select(
        "item",
        "k",
        F.when(
            h52(
                F.concat(
                    F.lit("ds"),
                    F.col("k").cast("string"),
                    F.lit("|"),
                    F.col("item").cast("string"),
                )
            )
            % 100
            < 10 * F.col("k"),
            1 - F.col("t"),
        )
        .otherwise(F.col("t"))
        .alias("lab"),
    )
    wide = labels.groupBy("item").agg(
        F.max(F.when(F.col("k") == 1, F.col("lab"))).alias("l1"),
        F.max(F.when(F.col("k") == 2, F.col("lab"))).alias("l2"),
        F.max(F.when(F.col("k") == 3, F.col("lab"))).alias("l3"),
    )
    maj = wide.withColumn(
        "m",
        F.when(F.col("l1") + F.col("l2") + F.col("l3") >= 2, 1).otherwise(0),
    )
    conf = (
        labels.join(maj.select("item", "m"), "item")
        .groupBy("k", "m", "lab")
        .agg(F.count("*").cast("long").alias("c"))
    )
    cells = [
        F.sum(
            F.when(
                (F.col("k") == k) & (F.col("m") == m) & (F.col("lab") == lab),
                F.col("c"),
            ).otherwise(0)
        )
        .cast("double")
        .alias(f"c{k}{m}{lab}")
        for k in (1, 2, 3)
        for m in (1, 0)
        for lab in (1, 0)
    ]
    cw = conf.agg(*cells)
    pri = maj.agg(
        F.sum("m").cast("double").alias("n1"),
        F.count("*").cast("double").alias("nn"),
    )
    ratio = " * ".join(
        f"(CASE WHEN l{k} = 1 THEN c{k}11 ELSE c{k}10 END"
        f" / nullif(c{k}11 + c{k}10, 0.0))"
        f" / nullif(CASE WHEN l{k} = 1 THEN c{k}01 ELSE c{k}00 END"
        f" / nullif(c{k}01 + c{k}00, 0.0), 0.0)"
        for k in (1, 2, 3)
    )
    post = (
        maj.crossJoin(F.broadcast(cw))
        .crossJoin(F.broadcast(pri))
        .selectExpr(
            "item",
            "m",
            f"(n1 / nullif(nn - n1, 0.0)) * {ratio} AS odds",
        )
    )
    errs = [
        f"CAST(round(first((c{k}10 + c{k}01)"
        f" / nullif(c{k}11 + c{k}10 + c{k}01 + c{k}00, 0.0)), 6)"
        f" AS DOUBLE) AS err{k}_6"
        for k in (1, 2, 3)
    ]
    summary = post.crossJoin(F.broadcast(cw)).crossJoin(F.broadcast(pri))
    return summary.selectExpr(
        "CAST(count(*) AS BIGINT) AS n_items",
        "CAST(round(first(n1 / nullif(nn, 0.0)), 6) AS DOUBLE) AS p1_6",
        *errs,
        "CAST(sum(CASE WHEN (odds > 1.0) <> (m = 1) THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n_flipped",
        "CAST(sum(CASE WHEN odds > 1.0 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_pos_posterior",
    )


# ---------------------------------------------------------------------------
# NDCG@10 and MRR over single-term retrieval queries
# ---------------------------------------------------------------------------

_RANK_QUERY = ("spark", "join", "window")
_RANK_K = 10

# per-rank DCG term (2^g - 1)/log2(r + 1), 6dp-rounded then
# micro-quantized — log2 is transcendental, so the round happens BEFORE
# the cross-rank sum on both engines
_DCG_TERM = (
    "CAST(round(1000000.0 * round((pow(2.0, CAST(g AS DOUBLE)) - 1.0)"
    " / log2(CAST(r AS DOUBLE) + 1.0), 6)) AS BIGINT)"
)


@gate(
    "ndcg_at_k",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({duckdb_tokens('text')}) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok WHERE term IN {_RANK_QUERY!r} GROUP BY doc_id, term),
    graded AS (
      SELECT term, doc_id, least(tf, 3) AS g,
             row_number() OVER (PARTITION BY term
                                ORDER BY tf DESC, doc_id ASC) AS r
      FROM tf
    ),
    dcg AS (
      SELECT term, CAST(sum({_DCG_TERM}) AS BIGINT) AS dcg_micro
      FROM graded WHERE r <= {_RANK_K} GROUP BY term
    ),
    ideal AS (
      SELECT term, g,
             row_number() OVER (PARTITION BY term
                                ORDER BY g DESC, doc_id ASC) AS r
      FROM graded
    ),
    idcg AS (
      SELECT term, CAST(sum({_DCG_TERM}) AS BIGINT) AS idcg_micro
      FROM ideal WHERE r <= {_RANK_K} GROUP BY term
    )
    SELECT dcg.term AS query_term,
           CAST(round(CAST(dcg_micro AS DOUBLE) / 1000000.0, 6) AS DOUBLE)
             AS dcg6,
           CAST(round(CAST(idcg_micro AS DOUBLE) / 1000000.0, 6) AS DOUBLE)
             AS idcg6,
           CAST(round(CAST(dcg_micro AS DOUBLE)
                      / nullif(CAST(idcg_micro AS DOUBLE), 0.0), 6) AS DOUBLE)
             AS ndcg6
    FROM dcg JOIN idcg ON dcg.term = idcg.term
    ORDER BY query_term
    """,
)
def q_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded-relevance NDCG@{_RANK_K} for three single-term queries
    over the documents corpus, with grade = min(tf, 3) and the ranking
    by (tf DESC, doc_id ASC) — the standard retrieval-eval statistic
    (gate:bm25_ranked_retrieval produces rankings; this grades them).

    Determinism: grades and ranks are exact integers; each rank's DCG
    term rounds the log2 transcendental to 6dp THEN micro-quantizes
    before the BIGINT sum; ideal ranking ties to lowest doc_id; the
    final NDCG division is nullif-guarded (a query with no relevant
    docs has undefined NDCG).  Scale: the postings relation is pruned
    to the query terms BEFORE any window; the per-term top-{_RANK_K}
    windows run on the pruned relation (the window_topk pattern)."""
    from inferdb_spark.functions.text import tokens_sql

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.expr(tokens_sql("`text`"))).alias("term"))
    tf = (
        tok.where(F.col("term").isin(*_RANK_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    graded = tf.select(
        "term",
        "doc_id",
        F.least(F.col("tf"), F.lit(3)).alias("g"),
        F.row_number()
        .over(Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id")))
        .alias("r"),
    )
    dcg = (
        graded.where(F.col("r") <= _RANK_K)
        .selectExpr("term", f"{_DCG_TERM} AS t")
        .groupBy("term")
        .agg(F.sum("t").cast("long").alias("dcg_micro"))
    )
    ideal = graded.select(
        "term",
        "g",
        F.row_number()
        .over(Window.partitionBy("term").orderBy(F.desc("g"), F.asc("doc_id")))
        .alias("r"),
    )
    idcg = (
        ideal.where(F.col("r") <= _RANK_K)
        .selectExpr("term", f"{_DCG_TERM} AS t")
        .groupBy("term")
        .agg(F.sum("t").cast("long").alias("idcg_micro"))
    )
    return (
        dcg.join(idcg, "term")
        .selectExpr(
            "term AS query_term",
            "CAST(round(CAST(dcg_micro AS DOUBLE) / 1000000.0, 6) AS DOUBLE)"
            " AS dcg6",
            "CAST(round(CAST(idcg_micro AS DOUBLE) / 1000000.0, 6) AS DOUBLE)"
            " AS idcg6",
            "CAST(round(CAST(dcg_micro AS DOUBLE)"
            " / nullif(CAST(idcg_micro AS DOUBLE), 0.0), 6) AS DOUBLE)"
            " AS ndcg6",
        )
        .orderBy("query_term")
    )


@gate(
    "mrr_first_relevant",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({duckdb_tokens('text')}) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok WHERE term IN {_RANK_QUERY!r} GROUP BY doc_id, term),
    ranked AS (
      SELECT term, doc_id, tf,
             row_number() OVER (PARTITION BY term
                                ORDER BY tf DESC, doc_id ASC) AS r
      FROM tf
    ),
    firsts AS (
      SELECT term, CAST(min(r) AS BIGINT) AS first_rank
      FROM ranked WHERE tf >= 2 GROUP BY term
    )
    SELECT term AS query_term, first_rank,
           CAST(round(1.0 / nullif(CAST(first_rank AS DOUBLE), 0.0), 6)
                AS DOUBLE) AS rr6
    FROM firsts ORDER BY query_term
    """,
)
def q_mrr_first_relevant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the first grade>=2 (tf >= 2) document per
    single-term query under the same (tf DESC, doc_id ASC) ranking as
    gate:ndcg_at_k — the MRR companion (known-item search: how deep
    must the user scroll?).

    Determinism: ranks are exact; one division, 6dp.  Scale: postings
    pruned to query terms before the per-term window; min(r) is a
    domain-bounded reduce."""
    from inferdb_spark.functions.text import tokens_sql

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.expr(tokens_sql("`text`"))).alias("term"))
    tf = (
        tok.where(F.col("term").isin(*_RANK_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    ranked = tf.select(
        "term",
        "tf",
        F.row_number()
        .over(Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id")))
        .alias("r"),
    )
    return (
        ranked.where(F.col("tf") >= 2)
        .groupBy("term")
        .agg(F.min("r").cast("long").alias("first_rank"))
        .selectExpr(
            "term AS query_term",
            "first_rank",
            "CAST(round(1.0 / nullif(CAST(first_rank AS DOUBLE), 0.0), 6)"
            " AS DOUBLE) AS rr6",
        )
        .orderBy("query_term")
    )
