"""In-database matrix-factorization TRAINING (latent-factor recommender).

The reference's in-DB-training story (PGML `pgml.train`,
src/transpiler.py:2032-2101; MADlib trainers, :2382-2466 — MADlib ships
`madlib.lmf_igd_run` low-rank matrix factorization) covers models whose
fit lives inside the engine.  This module is the Spark-native member for
latent factors: full-batch joint gradient descent on the squared-error
objective over (user, item, rating) triples, with BOTH factor matrices
living as relations — nothing model-sized ever reaches the driver, unlike
the logreg/softmax trainers whose coefficient vector is O(p).

Scale shape (the 100 TB question): per step, ONE equi-join of the rating
scan against the two factor relations (each join key is the natural
user/item key — broadcastable when one side is small, shuffle-partitioned
otherwise) and TWO map-side-combined groupBys (user, item).  Factor state
is O(users + items) rows, k BIGINT columns; steps are a driver loop but
`.collect()` never happens — the loop only chains DataFrames with
localCheckpoint() truncating lineage per step (the graph.py fixpoint
pattern).

Determinism engineering (cross-engine bit-exactness):
- factors are STORED as BIGINT micro-units (1e-6): state is exact
  integers, so there is no float-representation drift between steps;
- hash-based init: uq_f = h52('u'||key||'_'||f) % 200001 - 100000
  (±0.1 in micro-units) — portable md5 arithmetic, identical in DuckDB;
- per-row error e = r - ((u0*v0) + u1*v1 + ...) with u_f = uq_f/1e6
  evaluated in written order; eq = floor(e*1e6 + 0.5) BIGINT;
- gradient sums S_uf = SUM(eq * vq_f) are exact BIGINTs (|eq|<2e6,
  |vq|<~2e6, 60k terms -> well under 2^63);
- the update  uq_f += floor(lr * S_uf / (1e6 * n_u) + 0.5)  is one
  double division + floor, identical expression text on both engines;
- final predictions are pure-integer dots SUM_f uq_f*vq_f (micro^2 units)
  — the gate hashes BIGINTs, no float in the output at all.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inferdb_spark.functions.hashing import duckdb_h52, h52

INIT_RANGE = 100_000  # ±0.1 in micro-units

# broadcast_factors auto-disables above this many (tag, key) factor rows:
# k+2 BIGINT columns per row keeps 1e8 rows within the 8 GB / 512M-row
# broadcast cap with headroom; past it the SMJ shape is the correct plan
# (round-10 advice item 3 — degrade, don't OOM).
MF_BROADCAST_CAP_ROWS = 100_000_000


def _init_factors(df: DataFrame, key: str, prefix: str, k: int) -> DataFrame:
    """Distinct keys -> k hash-initialized BIGINT micro-unit factors."""
    out = df.select(F.col(key).cast("long").alias(key)).distinct()
    for f in range(k):
        seed = F.concat(
            F.lit(prefix), F.col(key).cast("string"), F.lit(f"_{f}")
        )
        out = out.withColumn(
            f"{prefix}q{f}",
            (h52(seed) % F.lit(2 * INIT_RANGE + 1) - F.lit(INIT_RANGE)).cast("long"),
        )
    return out


def _error_micro(k: int):
    """eq = floor((r - pred)*1e6 + 0.5) with pred folded in factor order."""
    pred = (F.col("uq0").cast("double") / F.lit(1e6)) * (
        F.col("vq0").cast("double") / F.lit(1e6)
    )
    for f in range(1, k):
        pred = pred + (F.col(f"uq{f}").cast("double") / F.lit(1e6)) * (
            F.col(f"vq{f}").cast("double") / F.lit(1e6)
        )
    return F.floor((F.col("rating") - pred) * F.lit(1e6) + F.lit(0.5)).cast("long")


@dataclass
class MFModel:
    user_col: str
    item_col: str
    k: int
    user_factors: DataFrame  # (user, uq0..uq{k-1}) BIGINT micro-units
    item_factors: DataFrame  # (item, vq0..vq{k-1})
    n_steps: int
    learning_rate: float
    broadcast_factors: bool = True

    def predict(self, ratings: DataFrame) -> DataFrame:
        """Append `pred_micro2` = Σ_f uq_f·vq_f (exact BIGINT, 1e-12 units).

        The factor sides come out of localCheckpoint (RDD scans with NO
        size statistics), so without a hint the planner falls back to
        SortMergeJoin and shuffles the full rating relation by user and
        again by item (r10 plan audit: 2 Exchange + 2 sorts).  With
        `broadcast_factors` (the default) both probes are map-only;
        results are identical either way — broadcast only changes WHERE
        the hash table lives."""
        wrap = F.broadcast if self.broadcast_factors else (lambda d: d)
        joined = ratings.join(wrap(self.user_factors), self.user_col, "left").join(
            wrap(self.item_factors), self.item_col, "left"
        )
        dot = F.col("uq0") * F.col("vq0")
        for f in range(1, self.k):
            dot = dot + F.col(f"uq{f}") * F.col(f"vq{f}")
        return joined.withColumn("pred_micro2", dot.cast("long"))


def fit_mf_gd(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    k: int = 2,
    n_steps: int = 3,
    learning_rate: float = 1.0,
    broadcast_factors: bool = True,
) -> MFModel:
    """Joint full-batch GD, ONE materialization barrier per step.

    `broadcast_factors` (default True): hint the factor relation W and
    the per-step gradient table G as broadcast sides.  Both are
    O(users + items) rows of k+2 BIGINTs and come out of
    localCheckpoint/groupBy with no usable size statistics, so the
    planner otherwise picks SortMergeJoin and shuffles the RATINGS
    relation by u, again by i, and W by (tag, key) — five exchanges per
    step where one (the gradient groupBy) suffices.  Values are
    join-strategy-independent (exact BIGINT arithmetic, same rows).
    Pass False beyond ~10^8 distinct keys, where the factor relation
    outgrows a broadcast (8 GB / 512M-row cap) — the SMJ shape is the
    prior behavior and stays correct.

    The original loop paid 3 eager localCheckpoint jobs per step (error
    snapshot E, new U, new V) + 2 for the inits — 11 barriers for the
    3-step gate fit, and the barriers (not the arithmetic) dominated the
    bench (guide §1 profiling: 4.7 s construct vs 1.4 s exec).  This form
    holds BOTH factor matrices in one tagged relation
    W = (tag 0|1, key, q0..q{k-1}) and per step:
      - rebuilds the error join from the cached triples + checkpointed W,
      - emits each rating row's user-gradient and item-gradient records
        in ONE pass via a 2-element posexplode-free array-of-structs
        explode (no double evaluation of the join subtree),
      - aggregates both gradient tables in ONE groupBy(tag, key) shuffle,
      - left-joins the updates back onto W and checkpoints the new W —
        the single barrier.
    1 + n_steps barriers total (4 for the gate fit vs 11).

    Bit-exactness vs the 3-barrier form: the per-(tag,key) gradient sums
    are exact BIGINT sums of the identical eq*factor terms (grouping by
    (tag, key) partitions them identically to the old per-side groupBys),
    and the update expression text is unchanged, so every intermediate
    factor — and the DuckDB replay — is unchanged.  Superseded W
    checkpoints are freed each step (round-9 verdict #2 leak rule).
    """
    from inferdb_spark.scale import free_local_checkpoint, spread

    lr = float(learning_rate)
    # The triple projection is referenced by every step's error join —
    # spread it across cores (the local one-row-group parquet scans as
    # ONE task otherwise) and persist so the n_steps consumers read the
    # cache instead of re-scanning (guide §1/§2).
    r = spread(
        ratings.select(
            F.col(user_col).cast("long").alias("u"),
            F.col(item_col).cast("long").alias("i"),
            F.col(rating_col).cast("double").alias("rating"),
        )
    ).persist()

    # Fused init: ONE distinct shuffle over the tagged (0,u)/(1,i) key
    # union instead of two separate distinct+checkpoint jobs.  The h52
    # seed text per (tag, key, f) is identical to _init_factors' per-side
    # form ('u'||key||'_f' / 'v'||key||'_f'), so every initial factor is
    # unchanged.
    keys = (
        r.select(
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("tag"), F.col("u").alias("key")),
                    F.struct(F.lit(1).alias("tag"), F.col("i").alias("key")),
                )
            ).alias("rec")
        )
        .select("rec.*")
        .distinct()
    )
    prefix = F.when(F.col("tag") == 0, F.lit("u")).otherwise(F.lit("v"))
    W = keys.select(
        "tag",
        "key",
        *[
            (
                h52(F.concat(prefix, F.col("key").cast("string"), F.lit(f"_{f}")))
                % F.lit(2 * INIT_RANGE + 1)
                - F.lit(INIT_RANGE)
            )
            .cast("long")
            .alias(f"q{f}")
            for f in range(k)
        ],
    ).localCheckpoint(eager=True)

    def _side(tag: int, key: str, prefix: str) -> DataFrame:
        """One factor matrix's view of the tagged relation W."""
        return W.filter(F.col("tag") == tag).select(
            F.col("key").alias(key),
            *[F.col(f"q{f}").alias(f"{prefix}q{f}") for f in range(k)],
        )

    # size guard on the hint (round-10 advice item 3): W is already
    # materialized (eager localCheckpoint), so the count is a metadata-
    # cheap scan of cached partitions; above the cap the hint would hit
    # the 8 GB / 512M-row broadcast wall at runtime — fall back to the
    # SMJ shape instead (identical values, different placement).
    if broadcast_factors and W.count() > MF_BROADCAST_CAP_ROWS:
        broadcast_factors = False

    wrap = F.broadcast if broadcast_factors else (lambda d: d)
    for _ in range(n_steps):
        E = (
            r.join(wrap(_side(0, "u", "u")), "u")
            .join(wrap(_side(1, "i", "v")), "i")
            .withColumn("eq", _error_micro(k))
        )
        grad_recs = F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("tag"),
                    F.col("u").alias("key"),
                    *[
                        (F.col("eq") * F.col(f"vq{f}")).alias(f"g{f}")
                        for f in range(k)
                    ],
                ),
                F.struct(
                    F.lit(1).alias("tag"),
                    F.col("i").alias("key"),
                    *[
                        (F.col("eq") * F.col(f"uq{f}")).alias(f"g{f}")
                        for f in range(k)
                    ],
                ),
            )
        )
        G = (
            E.select(grad_recs.alias("rec"))
            .select("rec.*")
            .groupBy("tag", "key")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.col(f"g{f}")).alias(f"s{f}") for f in range(k)],
            )
        )
        W_prev = W
        W = (
            W.join(wrap(G), ["tag", "key"], "left")
            .select(
                "tag",
                "key",
                *[
                    F.when(
                        F.col("n").isNotNull(),
                        F.col(f"q{f}")
                        + F.floor(
                            F.lit(lr) * F.col(f"s{f}").cast("double")
                            / (F.lit(1e6) * F.col("n").cast("double"))
                            + F.lit(0.5)
                        ).cast("long"),
                    )
                    .otherwise(F.col(f"q{f}"))
                    .alias(f"q{f}")
                    for f in range(k)
                ],
            )
            .localCheckpoint(eager=True)
        )
        free_local_checkpoint(W_prev)
    r.unpersist()
    return MFModel(
        user_col="u", item_col="i", k=k,
        user_factors=_side(0, "u", "u"), item_factors=_side(1, "i", "v"),
        n_steps=n_steps, learning_rate=lr,
        broadcast_factors=broadcast_factors,
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: init + every GD step as a CTE chain, final integer dots.


def fit_predict_mf_sql(
    user_sql: str,
    item_sql: str,
    rating_sql: str,
    row_id_sql: str,
    k: int = 2,
    n_steps: int = 3,
    learning_rate: float = 1.0,
    table: str = "lineitem",
) -> str:
    """Replay the ENTIRE MF fit in DuckDB from the same literals: hash
    init -> (error snapshot -> U update -> V update) × n_steps -> exact
    BIGINT prediction dot per rating row."""
    lr = float(learning_rate)

    def init_cols(prefix: str, keycol: str) -> str:
        cols = []
        for f in range(k):
            seed = "'" + prefix + "' || CAST(" + keycol + " AS VARCHAR) || '_" + str(f) + "'"
            cols.append(
                f"CAST({duckdb_h52(seed)} % {2 * INIT_RANGE + 1} - {INIT_RANGE} "
                f"AS BIGINT) AS {prefix}q{f}"
            )
        return ", ".join(cols)

    ctes = [
        f"r AS MATERIALIZED (SELECT CAST({row_id_sql} AS BIGINT) AS row_id, "
        f"CAST({user_sql} AS BIGINT) AS u, CAST({item_sql} AS BIGINT) AS i, "
        f"CAST({rating_sql} AS DOUBLE) AS rating FROM {table})",
        f"u0 AS MATERIALIZED (SELECT u, {init_cols('u', 'u')} FROM (SELECT DISTINCT u FROM r))",
        f"v0 AS MATERIALIZED (SELECT i, {init_cols('v', 'i')} FROM (SELECT DISTINCT i FROM r))",
    ]

    def pred_sql() -> str:
        p = "((CAST(uq0 AS DOUBLE) / 1000000.0) * (CAST(vq0 AS DOUBLE) / 1000000.0))"
        for f in range(1, k):
            p = (
                f"({p} + ((CAST(uq{f} AS DOUBLE) / 1000000.0) * "
                f"(CAST(vq{f} AS DOUBLE) / 1000000.0)))"
            )
        return p

    for t in range(n_steps):
        uq = ", ".join(f"uq{f}" for f in range(k))
        vq = ", ".join(f"vq{f}" for f in range(k))
        ctes.append(
            f"e{t} AS MATERIALIZED (SELECT u, i, {uq}, {vq}, "
            f"CAST(floor((rating - {pred_sql()}) * 1000000.0 + 0.5) AS BIGINT) AS eq "
            f"FROM r JOIN u{t} USING (u) JOIN v{t} USING (i))"
        )
        su = ", ".join(f"SUM(eq * vq{f}) AS s{f}" for f in range(k))
        upd_u = ", ".join(
            f"CASE WHEN g.n_u IS NOT NULL THEN uq{f} + CAST(floor({lr!r} * "
            f"CAST(g.s{f} AS DOUBLE) / (1000000.0 * CAST(g.n_u AS DOUBLE)) + 0.5) "
            f"AS BIGINT) ELSE uq{f} END AS uq{f}"
            for f in range(k)
        )
        ctes.append(
            f"u{t + 1} AS MATERIALIZED (SELECT u{t}.u, {upd_u} FROM u{t} LEFT JOIN "
            f"(SELECT u, CAST(count(*) AS BIGINT) AS n_u, {su} FROM e{t} GROUP BY u) g "
            f"ON u{t}.u = g.u)"
        )
        sv = ", ".join(f"SUM(eq * uq{f}) AS s{f}" for f in range(k))
        upd_v = ", ".join(
            f"CASE WHEN g.n_v IS NOT NULL THEN vq{f} + CAST(floor({lr!r} * "
            f"CAST(g.s{f} AS DOUBLE) / (1000000.0 * CAST(g.n_v AS DOUBLE)) + 0.5) "
            f"AS BIGINT) ELSE vq{f} END AS vq{f}"
            for f in range(k)
        )
        ctes.append(
            f"v{t + 1} AS MATERIALIZED (SELECT v{t}.i, {upd_v} FROM v{t} LEFT JOIN "
            f"(SELECT i, CAST(count(*) AS BIGINT) AS n_v, {sv} FROM e{t} GROUP BY i) g "
            f"ON v{t}.i = g.i)"
        )

    dot = " + ".join(f"uq{f} * vq{f}" for f in range(k))
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT row_id, CAST(({dot}) AS BIGINT) AS pred_micro2 "
        f"FROM r JOIN u{n_steps} USING (u) JOIN v{n_steps} USING (i) "
        f"ORDER BY row_id"
    )


# ---------------------------------------------------------------------------
# pure-Python twin (parity tests)


def fit_mf_numpy(
    triples, k: int = 2, n_steps: int = 3, learning_rate: float = 1.0
):
    """Bit-identical dict-based replay of fit_mf_gd.  `triples` is a list of
    (user, item, rating).  Returns (U, V) dicts key -> [micro-unit ints].
    Mirrors the hash init via hashlib md5 (the h52 formula)."""
    import hashlib

    def h52_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:13], 16)

    lr = float(learning_rate)
    users = sorted({u for u, _, _ in triples})
    items = sorted({i for _, i, _ in triples})
    U = {
        u: [h52_py(f"u{u}_{f}") % (2 * INIT_RANGE + 1) - INIT_RANGE for f in range(k)]
        for u in users
    }
    V = {
        i: [h52_py(f"v{i}_{f}") % (2 * INIT_RANGE + 1) - INIT_RANGE for f in range(k)]
        for i in items
    }
    import math

    for _ in range(n_steps):
        eqs = []
        for u, i, r in triples:
            pred = (U[u][0] / 1e6) * (V[i][0] / 1e6)
            for f in range(1, k):
                pred = pred + (U[u][f] / 1e6) * (V[i][f] / 1e6)
            eqs.append(math.floor((r - pred) * 1e6 + 0.5))
        new_U = {}
        for u in users:
            rows = [(j, it) for j, (uu, it, _) in enumerate(triples) if uu == u]
            n_u = len(rows)
            facs = []
            for f in range(k):
                s = sum(eqs[j] * V[it][f] for j, it in rows)
                facs.append(U[u][f] + math.floor(lr * s / (1e6 * n_u) + 0.5))
            new_U[u] = facs
        new_V = {}
        for i in items:
            rows = [(j, uu) for j, (uu, it, _) in enumerate(triples) if it == i]
            n_v = len(rows)
            facs = []
            for f in range(k):
                s = sum(eqs[j] * U[uu][f] for j, uu in rows)
                facs.append(V[i][f] + math.floor(lr * s / (1e6 * n_v) + 0.5))
            new_V[i] = facs
        U, V = new_U, new_V
    return U, V
