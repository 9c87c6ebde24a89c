"""Distributed connected components (iterative min-label propagation).

Completes the dedup pipeline: MinHash/SimHash LSH emits candidate *pairs*
(dedup.minhash_lsh_pairs / simhash_near_pairs); grouping pairs into
duplicate *clusters* with one canonical representative per cluster is a
connected-components problem over the pair graph.  The reference has no
graph operator (its dedup surface is absent entirely — SURVEY.md §2.7);
this is a first-class training-data-pipeline extension.

Algorithm: min-label propagation with path halving.  Each iteration is
two shuffles (neighbor-min groupBy + label-resolution join) over a
DataFrame of (node, lbl); labels only decrease, so the fixpoint is the
component-wise minimum node id.  Path halving (resolving lbl -> lbl(lbl)
each round) makes long chains collapse in O(log n) rounds instead of
O(diameter).  `localCheckpoint` truncates the plan lineage each round —
without it the iteration-k plan embeds k nested joins and Catalyst
analysis time grows quadratically.

Scale notes (100 TB): state per round is one row per node — orders of
magnitude smaller than the edge list, which is the only large input and
is re-joined each round with the same partitioning (Exchange reuse).  For
graphs whose edge list itself dwarfs memory, the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14) bounds rounds at O(log^2 n) while shrinking the
edge set every round; label propagation is preferred here because dedup
pair graphs are sparse (LSH bands bound candidate-pair counts) and their
components are shallow.

Two regimes for `connected_components`, chosen per call by the size of the
distinct edge relation.  At most `_DRIVER_EDGE_CAP` edges (integer or
string ids) are collected once as Arrow and labelled on the driver by
union-find, returned as a local relation; a driver-sized graph is bound by
job latency, not compute (the sf0.1 gate's 5,459 edges took 89 jobs and
5.3 s in the loop, 7 jobs and 0.9 s this way, in a traced 4-vCPU pass).  Larger graphs run the
loop; deciding costs at most one bounded `LIMIT` job on top of the loop's
own jobs.  The cap's measurements are at its definition.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType


# Broadcast-hint the per-round label map when the node count is at most
# this (round-10 verdict item 1: the halving join was a plain shuffled
# self-join; the candidate join also re-shuffles the FULL edge list every
# round when the node map would hash-join map-side for free).  Two longs
# per row keeps 2e7 rows well under the 8 GB broadcast cap; past the cap
# the prior shuffled shape is the correct plan (the mf.py guard pattern).
# The node count is read once from the already-checkpointed seed labels.
_BROADCAST_LABELS_CAP = 20_000_000

# Solve on the driver at or under this many distinct edges (both
# orientations, the relation the loop joins).  Random graphs of E edges
# over E node ids, 4 vCPU, warm JVM, noop sink: at 2e5 distinct edges the
# driver took 1.4 s against the loop's 9.3 s, at 2e6 11 s against 64 s
# (union-find alone 5 s, Python heap peak 223 MB).  The driver's marginal
# cost (about 5.5 us an edge) stays under the loop's (about 30 us), so no
# time crossover was found; the cap is the largest size measured, bounding
# the driver's memory.
_DRIVER_EDGE_CAP = 2_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """Return (node, component) with component = min node id reachable.

    `edges` is an undirected edge list (each pair may appear once in
    either orientation); isolated nodes must be introduced by the caller
    (union their ids into the edge list as self-loops, or union the
    result with the node universe).  Node ids must be non-null and
    orderable (the canonical representative is the minimum).

    At most `_DRIVER_EDGE_CAP` distinct edges of integer or (binary
    collation) string ids are solved on the driver (see the module
    docstring); larger graphs run the label-propagation loop below.

    The loop runs at the session's shuffle width.  Widening it was
    measured as a loss (round-9 sf10 A/B on the 126M-edge clone match
    graph: ~64 MB/reducer took 3330 s vs 2318 s at the session default)
    because per-round localCheckpoint materialization and task overhead
    dominate this loop, not reduce width (BASELINE.md round-9 profile).
    """
    from inferdb_spark.scale import free_local_checkpoint, rotate_local_checkpoint

    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    # lazily: the probe's one job materializes it, or the seed's does
    sym = sym.localCheckpoint(eager=False)
    ids = sym.schema["u"].dataType
    if isinstance(ids, IntegralType) or ids == StringType():
        local = sym.limit(_DRIVER_EDGE_CAP + 1).toArrow()
        if local.num_rows <= _DRIVER_EDGE_CAP:
            free_local_checkpoint(sym)
            return _driver_components(edges.sparkSession, local)

    # seed with the 1-hop minimum (min(self, neighbors)) — one aggregation
    # that replaces the first propagation round
    labels = (
        sym.groupBy(F.col("v").alias("node"))
        .agg(F.least(F.first("v"), F.min("u")).alias("lbl"))
        .localCheckpoint(eager=True)
    )
    last_ckpt = labels

    # one cheap count on the checkpointed seed decides the join placement
    # for every round: labels only ever shrink-or-hold in row count, so a
    # seed under the cap stays under it
    wrap = (
        F.broadcast
        if labels.count() <= _BROADCAST_LABELS_CAP
        else (lambda d: d)
    )

    prev_sum = None
    for _ in range(max_iters):
        # candidate labels = own ∪ neighbors' — one join + one min-agg.
        # Broadcasting the node→lbl map makes the probe map-side: the
        # (much larger) edge relation is no longer re-shuffled each round
        # (guide §3.1); values are placement-independent.
        cand = (
            sym.join(wrap(labels), sym["u"] == labels["node"])
            .select(sym["v"].alias("node"), "lbl")
            .unionByName(labels)
        )
        new_labels = cand.groupBy("node").agg(F.min("lbl").alias("lbl"))
        # path halving: lbl := lbl(lbl) against the round's node→lbl map.
        # The map is monotone (map[x] <= x), so the fixpoint is unchanged.
        lbl_map = new_labels.select(
            F.col("node").alias("_ln"), F.col("lbl").alias("_lv")
        )
        resolved = new_labels.join(
            wrap(lbl_map), new_labels["lbl"] == lbl_map["_ln"], "left"
        ).select("node", F.coalesce("_lv", "lbl").alias("lbl"))
        new_labels = rotate_local_checkpoint(resolved, last_ckpt)
        labels = new_labels
        last_ckpt = new_labels
        # labels only decrease, so an unchanged SUM is a fixpoint — one
        # scalar aggregate instead of a join-based change count
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum

    # the edge checkpoint is dead once the final labels materialized
    free_local_checkpoint(sym)
    return labels.select(F.col("node"), F.col("lbl").alias("component"))


def _driver_components(spark: SparkSession, edges: pa.Table) -> DataFrame:
    """(node, component) of the collected (u, v) edges by union-find with
    the smaller id as root, so each root is its component's minimum; a
    local relation in the ids' own type (no job to create or collect).
    Python orders ints and strs as Spark does (str: by code point, which
    is UTF-8 byte order)."""
    parent: dict = {}

    def root(x):
        while (p := parent.setdefault(x, x)) != x:
            parent[x] = x = parent[p]  # path halving
        return x

    for a, b in zip(edges.column("u").to_pylist(), edges.column("v").to_pylist()):
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    ids = edges.schema.field("u").type
    return spark.createDataFrame(pa.table({
        "node": pa.array(nodes, ids),
        "component": pa.array([root(n) for n in nodes], ids),
    }))


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the EDGE-dominated alternative to `connected_components`.

    Where min-label propagation keeps per-round state of one row per
    node but re-joins the FULL edge list every round, the star algorithm
    rewrites the edge list itself each round:

      large-star(x): connect every neighbor y > x to m = min(x ∪ N(x))
      small-star(u): connect u and every smaller neighbor to min(u ∪ N(u))

    Both steps preserve connectivity; their alternation contracts every
    component into a star centered at its minimum node in O(log^2 n)
    rounds, and the edge set SHRINKS monotonically toward one (child,
    root) edge per non-root node — so per-round shuffle volume decays,
    which is exactly what you want when the edge list dwarfs the node
    set (dense co-occurrence graphs, web graphs).  For sparse shallow
    dedup-pair graphs, label propagation's constant factors win; see
    DESIGN_SCALE.md for the pick-by-shape rule.

    Same contract as `connected_components`: undirected edge list,
    self-loops introduce isolated nodes, returns (node, component) with
    component = min reachable node id.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical orientation u > v; self-loops drop (isolated nodes rejoin
    # at the end via the node universe)
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    from inferdb_spark.scale import rotate_local_checkpoint

    # same bounded hint as the min-label loop: the per-round star maps m1
    # and m2 are node-count relations joined onto the (larger) edge
    # relation — broadcasting them keeps the edge side un-shuffled
    # (guide §3.1); past the cap the shuffled shape is the correct plan
    wrap = (
        F.broadcast
        if nodes.count() <= _BROADCAST_LABELS_CAP
        else (lambda d: d)
    )

    last_ckpt = e
    prev_chk = None
    for _ in range(max_iters):
        # large-star: per node x, attach every LARGER neighbor to the
        # 1-hop minimum m = min(x, N(x)); v = m <= x < y so orientation
        # u > v is preserved for free
        nb = e.select(F.col("u").alias("x"), F.col("v").alias("y")).unionByName(
            e.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        m1 = nb.groupBy("x").agg(F.least(F.first("x"), F.min("y")).alias("m"))
        e = (
            nb.join(wrap(m1), "x")
            .filter(F.col("y") > F.col("x"))
            .select(F.col("y").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: per node u (the larger endpoint), attach u and all
        # its smaller neighbors to m = min(N(u)); both v and u are > m
        # except v == m itself (skipped as a self-loop)
        m2 = e.groupBy("u").agg(F.min("v").alias("m"))
        j = e.join(wrap(m2), "u")
        e = rotate_local_checkpoint(
            j.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(j.select(F.col("u"), F.col("m").alias("v")))
            .distinct(),
            last_ckpt,
        )
        last_ckpt = e
        # fixpoint when the edge set stops changing: count + an
        # order-independent XOR fingerprint (overflow-free), one scalar
        # aggregate over the already-distinct edge relation
        row = e.agg(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).collect()[0]
        chk = (row["n"], row["h"])
        if chk == prev_chk:
            break
        prev_chk = chk
    # converged edges are (child, root) stars; roots + isolated nodes
    # label themselves
    labels = e.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("component"))
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    pair_left: str = "id_a",
    pair_right: str = "id_b",
) -> DataFrame:
    """Canonical-representative assignment for a dedup pair list.

    Every id in `all_ids` gets a `cluster` column = min id of its
    duplicate group (itself when it has no near-duplicates).  Keep rows
    where `id == cluster` to retain one representative per group.
    """
    cc = connected_components(pairs, pair_left, pair_right)
    return (
        all_ids.select(F.col(id_col))
        .distinct()
        .join(cc, all_ids[id_col] == cc["node"], "left")
        .select(
            all_ids[id_col],
            F.coalesce("component", all_ids[id_col]).alias("cluster"),
        )
    )


def pagerank_integer(
    edges: DataFrame,
    n_iters: int,
    damping_micro: int = 850000,
) -> DataFrame:
    """PageRank over a directed edge relation (src, dst), computed ENTIRELY
    in integer micro-units so every iteration is bit-reproducible across
    engines, partition schedules, and retries.

    Per iteration (the driver only orchestrates; all work is relational):

        contrib(dst)  = Σ_{src→dst} rank_micro(src) // out_deg(src)
        rank_micro(v) = (1_000_000 - damping_micro)
                        + damping_micro * contrib(v) // 1_000_000

    Floor division loses < 1 micro-unit per edge — the classic float
    formulation instead accumulates partition-order-dependent rounding,
    which is why float PageRank never reproduces exactly.  Nodes with no
    in-edges keep the teleport mass; dangling-node mass is dropped (ranks
    are relative scores here, not a strict probability distribution —
    acceptable for the ranking use and keeps the recurrence integral).

    Scale: state is one (node, rank_micro) row per node; each iteration
    joins the cached edge+degree relation (re-used partitioning) and
    re-aggregates by dst.  localCheckpoint truncates lineage per round,
    exactly as connected_components does.
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    ed = edges.join(deg, "src").select("src", "dst", "out_deg").cache()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .cache()
    )
    from inferdb_spark.scale import rotate_local_checkpoint

    base = F.lit(1000000 - damping_micro).cast("long")
    ranks = nodes.withColumn("rank_micro", F.lit(1000000).cast("long"))
    last_ckpt = None
    for _ in range(n_iters):
        # `div` is Spark's *integral* division — exact BIGINT floor-quotient
        # semantics matching the oracle's `//`.  The earlier floor(a / b)
        # form went through IEEE double division, which diverges from true
        # integer division once intermediates exceed 2^53 (hub nodes at
        # scale); `div` never leaves the integer domain.
        contrib = (
            ed.join(ranks, F.col("src") == F.col("node"))
            .select(
                "dst",
                F.expr("rank_micro div out_deg").cast("long").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        # Widen the damping product through DECIMAL(38,0) so
        # damping_micro * contrib cannot silently wrap a BIGINT (contrib can
        # approach 2^63/850000 on extreme hubs); the quotient is floored in
        # the decimal domain then narrowed back to long — still exact
        # integer arithmetic end to end.
        damp_expr = (
            f"cast(floor(cast({int(damping_micro)} as decimal(38,0)) "
            f"* coalesce(contrib, 0L) / 1000000) as long)"
        )
        ranks = rotate_local_checkpoint(
            nodes.join(contrib, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (base + F.expr(damp_expr)).alias("rank_micro"),
            ),
            last_ckpt,
        )
        last_ckpt = ranks
    return ranks


def k_core(
    edges: DataFrame,
    k: int,
    n_rounds: int,
    u: str = "u",
    v: str = "v",
) -> DataFrame:
    """k-core decomposition by iterative peeling: drop every node whose
    degree is < k, delete its edges, repeat.  Returns the surviving
    oriented edge list (u < v as given by the caller) after exactly
    `n_rounds` rounds — rounds past the fixpoint are no-ops, so running a
    FIXED count is deterministic and lets an oracle unroll the same
    rounds as materialized CTEs (the dbscan-gate precedent for
    fixpoint-shaped operators).

    Scale: state is the edge relation itself, monotonically shrinking;
    each round is one degree aggregation (map-side combinable — an edge
    contributes to exactly two nodes) plus two left-semi joins against
    the surviving-node set.  No per-node adjacency lists, no driver data
    beyond the loop counter; lineage is truncated every round via
    localCheckpoint exactly as :func:`connected_components` does.  The
    classic peeling bound applies: the number of NON-no-op rounds is at
    most the graph's degeneracy, which for the co-occurrence graphs this
    engine builds is small; callers that need a guaranteed fixpoint can
    compare edge counts across rounds and stop early.
    """
    from inferdb_spark.scale import rotate_local_checkpoint

    e = edges.select(F.col(u).alias("u"), F.col(v).alias("v")).localCheckpoint(
        eager=True
    )
    last_ckpt = e
    for _ in range(n_rounds):
        deg = (
            e.select(F.col("u").alias("n"))
            .unionByName(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        e = rotate_local_checkpoint(
            e.join(keep, e["u"] == keep["n"], "left_semi")
            .join(keep, F.col("v") == keep["n"], "left_semi"),
            last_ckpt,
        )
        last_ckpt = e
    return e
