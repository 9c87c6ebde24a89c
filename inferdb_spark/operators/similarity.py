"""Similarity search over embedding columns (array<float>).

Four tiers, as a 100 TB pipeline needs:
- brute-force cosine top-k: one map-only projection + TakeOrdered — the
  exact baseline; scales linearly and never materializes a global sort;
- random-hyperplane LSH: per-row bucket signature (projection), search
  within bucket — the approximate scale path.  Hyperplanes are dyadic
  literals so bucketing is engine-reproducible;
- IVF: coarse k-means cells + partition-pruned probe of the nearest
  cells (fit_ivf_centroids / ivf_build / ivf_search);
- PQ: 32×-compressed codes + ADC literal-LUT scan for shortlist →
  exact re-rank (fit_pq_codebooks / pq_encode_sql / pq_adc_topk).

Vector math stays in whole-stage codegen via functions/vector.py; a numpy
mapInPandas variant is provided for very wide embeddings where the
expression tree would dominate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inferdb_spark.functions.vector import as_double_array, cosine_similarity, dot


def _query_lit(query_vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in query_vec])


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    orderBy+limit compiles to TakeOrderedAndProject: each partition keeps a
    k-heap, the driver merges — no global shuffle, the canonical distributed
    top-k."""
    sim = cosine_similarity(as_double_array(F.col(vec_col)), _query_lit(query_vec))
    return (
        df.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def make_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic dyadic pseudo-random hyperplanes (LCG over ±{0.25,0.5,
    0.75,1.0}) — exactly representable doubles, identical in any engine."""
    state = seed
    planes = []
    vals = [-1.0, -0.75, -0.5, -0.25, 0.25, 0.5, 0.75, 1.0]
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2**31 - 1)
            row.append(vals[state % len(vals)])
        planes.append(row)
    return planes


def lsh_cosine_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: filter to the query's hyperplane bucket, then
    exact cosine within it.  The bucket predicate is a pushable projection
    — at scale, pre-partition or Z-order by bucket and this prunes I/O."""
    qbucket = 0
    for i, p in enumerate(planes):
        d = sum(a * b for a, b in zip(query_vec, p))
        if d > 0:
            qbucket += 2**i
    sim = cosine_similarity(as_double_array(F.col(vec_col)), _query_lit(query_vec))
    return (
        df.filter(F.expr(hyperplane_bucket_sql(f"`{vec_col}`", planes)) == qbucket)
        .select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def embedding_near_pairs(
    df: DataFrame,
    vec_col: str,
    planes: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket self-join +
    exact-cosine verification — the embedding analog of MinHash dedup."""
    from inferdb_spark.functions.vector import l2_norm

    # per-ROW norm hoisted out of the pair projection: the bucket join
    # folds only the dot product per pair (1 fold instead of 3 — same
    # float ops in the same order as cosine_similarity, bit-identical)
    b = df.select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("v"),
        F.expr(hyperplane_bucket_sql(f"`{vec_col}`", planes)).alias("bucket"),
    ).withColumn("n", l2_norm(F.col("v")))
    a, c = b.alias("a"), b.alias("b")
    cand = a.join(
        c,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.when(
            (F.col("a.n") > 0) & (F.col("b.n") > 0),
            dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")),
        )
        .otherwise(F.lit(0.0))
        .alias("cosine"),
    )
    return cand.filter(F.col("cosine") >= threshold)


def fit_ivf_centroids(
    df: DataFrame, vec_col: str, n_lists: int, seed: int = 42, max_iter: int = 20
) -> list[list[float]]:
    """IVF coarse quantizer: KMeans over the embeddings (MLlib); only the
    n_lists centroids return to the driver."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = df.select(array_to_vector(as_double_array(F.col(vec_col))).alias("_features"))
    model = KMeans(k=n_lists, seed=seed, maxIter=max_iter, featuresCol="_features").fit(vecs)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _sql_dlit(x: float) -> str:
    """A Spark-SQL DOUBLE literal with the exact bits of ``F.lit(float(x))``
    (repr round-trips doubles; exponent forms are already DOUBLE in SQL)."""
    r = repr(float(x))
    return r if ("e" in r or "E" in r or "n" in r) else r + "D"


def _dlit_array_sql(c: list[float]) -> str:
    """SQL array of DOUBLE literals (see :func:`_sql_dlit`)."""
    return "array(" + ", ".join(_sql_dlit(x) for x in c) + ")"


def _sq_l2_sql(v: str, arr: str) -> str:
    """Squared L2 distance between two SQL double arrays: the single
    definition of the centroid distance fold (IVF and SemDeDup)."""
    return (
        f"aggregate(zip_with({v}, {arr}, (a, b) -> (a - b) * (a - b)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _dot_sql(v: str, arr: str) -> str:
    """Dot product of two SQL double arrays (the vector.dot fold)."""
    return f"aggregate(zip_with({v}, {arr}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _ivf_entries_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """SQL array of one (d, list_id) struct per literal centroid, d the
    squared L2 distance from the vector.  Struct field order makes
    array_min / array_sort break distance ties on the lower list id."""
    v = f"CAST({vec_sql} AS ARRAY<DOUBLE>)"
    entries = [
        f"named_struct('d', {_sq_l2_sql(v, _dlit_array_sql(c))}, 'list_id', {i})"
        for i, c in enumerate(centroids)
    ]
    return "array(" + ", ".join(entries) + ")"


def ivf_assign_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """Nearest-centroid (list) id of a SQL vector expression: argmin over
    literal centroids by squared L2 — a projection, no join, no shuffle,
    lowest-id tiebreak.

    One SQL string parses JVM-side in a single call, where a Column-built
    tree costs ~|centroids| x dim py4j round trips of pure driver latency
    (measured ~3 s of construct on the ivf_pq_search gate, guide §1).
    The per-centroid distance is a
    zip_with/aggregate fold on purpose: a flat element_at expansion was
    measured SLOWER — 64-dim x K-centroid flat trees exceed codegen
    method limits and fall back to interpreted evaluation of a much
    bigger tree."""
    return f"array_min({_ivf_entries_sql(vec_sql, centroids)}).list_id"


def ivf_probe_cells_sql(
    vec_sql: str, centroids: list[list[float]], n_probe: int
) -> str:
    """The n_probe nearest list ids of a SQL vector expression — the
    set-probe form of ivf_search's driver-side ranking, for workloads
    where the queries are themselves a relation (batch ANN scoring, KNN
    joins).  (distance, list_id) structs sorted and sliced: ties break on
    the lower list id, exactly like coarse_probe_ids."""
    entries = _ivf_entries_sql(vec_sql, centroids)
    ranked = f"slice(array_sort({entries}), 1, {n_probe})"
    return f"transform({ranked}, s -> s.list_id)"


def pq_encode_sql(vec_sql: str, codebooks: list[list[list[float]]]) -> str:
    """array<int> of per-subspace nearest-centroid PQ codes: argmin over
    literal codewords via array_min on (d, c) structs (lowest code on a
    distance tie), whole-stage codegen'd, no Python in the encode path.
    One JVM-side parse instead of thousands of py4j literal calls — the
    dominant construction cost of the IVF-PQ query."""
    v = f"CAST({vec_sql} AS ARRAY<DOUBLE>)"
    sub = len(codebooks[0][0])
    codes = []
    for s, book in enumerate(codebooks):
        cands = []
        for c in range(len(book)):
            terms = "0.0D"
            for j in range(sub):
                e = f"element_at({v}, {s * sub + j + 1})"
                b = _sql_dlit(book[c][j])
                terms += f" + ({e} - {b}) * ({e} - {b})"
            cands.append(f"named_struct('d', {terms}, 'c', {c})")
        codes.append("array_min(array(" + ", ".join(cands) + ")).c")
    return "array(" + ", ".join(codes) + ")"


def _hyperplane_projs_sql(v: str, planes: list[list[float]]) -> list[str]:
    """Per-plane projection expressions (the vector.dot fold)."""
    return [_dot_sql(v, _dlit_array_sql(p)) for p in planes]


def _hyperplane_bucket_sql_from(projs: list[str]) -> str:
    terms = ["CAST(0 AS BIGINT)"]
    for i, pr in enumerate(projs):
        terms.append(
            f"CASE WHEN ({pr} > 0) THEN CAST({2 ** i} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        )
    return " + ".join(terms)


def hyperplane_bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """LSH bucket id: bit i is set iff v · plane_i > 0.
    Planes should be dyadic literals (e.g. ±0.5/±0.25) for cross-engine
    reproducibility.  One JVM-side parse instead of ~|planes| x dim py4j
    literal round trips (guide §1/§4)."""
    v = f"CAST({vec_sql} AS ARRAY<DOUBLE>)"
    return _hyperplane_bucket_sql_from(_hyperplane_projs_sql(v, planes))


def hyperplane_multiprobe_sql(
    vec_sql: str, planes: list[list[float]], n_probe: int
) -> str:
    """Multi-probe LSH bucket list: the vector's own sign bucket followed
    by the buckets reached by flipping the (n_probe - 1) planes with the
    SMALLEST |projection| — the standard multi-probe sequence (query-
    directed probing), which recovers most of the recall of probing many
    independent tables at one table's cost.  Flips come in ascending
    |proj| order; a tie on |proj| goes to the lower plane index (struct
    field order), identical cross-engine.  Sign buckets are balanced by
    construction on roughly-isotropic data — unlike distance-argmin cells
    around random centroids, which collapse onto whichever centroid is
    nearest the data mean (measured: the round-8 ranking-eval report).

    Flipping bit i is bucket XOR 2^i == bucket + 2^i - 2*bit_i*2^i, with
    bit_i = floor(bucket / 2^i) % 2 — pure integer arithmetic, no
    engine-specific XOR."""
    v = f"CAST({vec_sql} AS ARRAY<DOUBLE>)"
    projs = _hyperplane_projs_sql(v, planes)
    bucket = "(" + _hyperplane_bucket_sql_from(projs) + ")"
    entries = ", ".join(
        f"named_struct('d', abs({pr}), 'i', {i})" for i, pr in enumerate(projs)
    )
    weak = f"slice(array_sort(array({entries})), 1, {n_probe - 1})"
    pw = "CAST(power(2.0D, CAST(s.i AS DOUBLE)) AS BIGINT)"
    bit = (
        f"(CAST(floor(CAST({bucket} AS DOUBLE) / CAST({pw} AS DOUBLE)) "
        "AS BIGINT) % 2)"
    )
    flip = f"{bucket} + {pw} - 2 * {bit} * {pw}"
    return f"concat(array({bucket}), transform({weak}, s -> {flip}))"


def ivf_build(
    df: DataFrame, vec_col: str, centroids: list[list[float]], id_col: str = "vec_id"
) -> DataFrame:
    """Assign every vector to its inverted list.  At scale, persist this
    partitioned/bucketed BY list_id so a probe touches only the probed
    lists' files (partition pruning does the index lookup)."""
    return df.withColumn(
        "list_id", F.expr(ivf_assign_sql(f"`{vec_col}`", centroids))
    )


def coarse_probe_ids(
    centroids: list[list[float]], query_vec: list[float], n_probe: int
) -> list[int]:
    """Driver-side coarse-quantizer ranking: the n_probe nearest list ids
    by squared L2, lowest-id tiebreak.  THE single source of truth for
    every probe-ranking site (ivf_search, ivf_pq_search, gate oracles) —
    the shared-literal rule requires all of them to agree."""
    dists = [
        (i, sum((a - b) * (a - b) for a, b in zip(c, query_vec)))
        for i, c in enumerate(centroids)
    ]
    return [i for i, _ in sorted(dists, key=lambda t: t[1])[:n_probe]]


def ivf_search(
    indexed: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF query: rank centroids by distance to the query (driver-side,
    n_lists is tiny), scan only the `n_probe` nearest lists, exact cosine
    within them.  With list_id partitioning the filter prunes at the
    source — the classic coarse-quantizer ANN trade-off (recall vs probes).
    """
    probe_ids = coarse_probe_ids(centroids, query_vec, n_probe)
    sim = cosine_similarity(as_double_array(F.col(vec_col)), _query_lit(query_vec))
    return (
        indexed.filter(F.col("list_id").isin(probe_ids))
        .select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compression tier of ANN
# ---------------------------------------------------------------------------

def fit_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    n_subvectors: int = 8,
    n_centroids: int = 16,
    sample_rows: int = 4096,
    iters: int = 12,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Fit PQ codebooks: split each vector into `n_subvectors` chunks and
    run a small deterministic Lloyd k-means per subspace on a driver-side
    sample (numpy — subspace k-means state is tiny; the 100 TB data never
    leaves the cluster, only the sample does).

    Returns codebooks[s][c] = centroid c of subspace s.  PQ is the ANN
    memory tier: 8 one-byte codes replace 64 floats (32× compression), so
    a 100 TB embedding corpus's codes fit the page cache — the same role
    as in FAISS IVF-PQ.
    """
    import numpy as np

    pdf = df.select(as_double_array(F.col(vec_col)).alias("v")).limit(sample_rows).toPandas()
    X = np.array(pdf["v"].tolist(), dtype=np.float64)
    dim = X.shape[1]
    assert dim % n_subvectors == 0, "dim must divide into subvectors"
    sub = dim // n_subvectors
    rng = np.random.RandomState(seed)
    books: list[list[list[float]]] = []
    for s in range(n_subvectors):
        Xs = X[:, s * sub : (s + 1) * sub]
        idx = rng.choice(len(Xs), size=n_centroids, replace=False)
        C = Xs[idx].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_centroids):
                m = assign == c
                if m.any():
                    C[c] = Xs[m].mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def pq_adc_topk(
    codes_df: DataFrame,
    codes_col: str,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query's
    per-subspace distance table is burned in as literals, so the scan is
    element_at lookups + a sum — map-only over the 32×-compressed codes,
    TakeOrdered for top-k, zero shuffle of the corpus."""
    sub = len(codebooks[0][0])
    dist_expr = None
    for s, book in enumerate(codebooks):
        q_s = query_vec[s * sub : (s + 1) * sub]
        table = [
            sum((q_s[j] - book[c][j]) ** 2 for j in range(sub))
            for c in range(len(book))
        ]
        lut = F.array(*[F.lit(float(x)) for x in table])
        term = F.element_at(lut, F.element_at(F.col(codes_col), s + 1) + 1)
        dist_expr = term if dist_expr is None else dist_expr + term
    return (
        codes_df.select(F.col(id_col), dist_expr.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def assign_with_centroid_cosine_sql(
    vec_sql: str, centroids: list[list[float]]
) -> str:
    """struct(cluster, ccos_q) of a SQL vector expression: nearest literal
    centroid by squared L2 (lowest-id tiebreak) plus the
    micro-unit-quantized cosine to that centroid (0 when either norm is
    0) — one projection, no join, no shuffle.  Quantizing ccos to BIGINT
    micro-units (floor(x*1e6 + 0.5)) makes downstream ORDERING on it
    engine-portable (cross-engine float ULPs cannot flip a rank)."""

    def norm_sql(a: str) -> str:
        return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"

    v = f"CAST({vec_sql} AS ARRAY<DOUBLE>)"
    nv = norm_sql(v)
    entries = []
    for i, c in enumerate(centroids):
        arr = _dlit_array_sql(c)
        nc = norm_sql(arr)
        ccos = (
            f"CASE WHEN {nv} > 0 AND {nc} > 0 "
            f"THEN {_dot_sql(v, arr)} / ({nv} * {nc}) ELSE 0.0D END"
        )
        entries.append(
            f"named_struct('d', {_sq_l2_sql(v, arr)}, 'cluster', {i}, "
            f"'ccos_q', CAST(floor({ccos} * 1000000.0D + 0.5D) AS BIGINT))"
        )
    best = "array_min(array(" + ", ".join(entries) + "))"
    return f"named_struct('cluster', {best}.cluster, 'ccos_q', {best}.ccos_q)"


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal over an embedding column.

    1. Assign every embedding to its nearest centroid — a map-only
       projection against literal centroids (no shuffle; fit centroids
       with fit_ivf_centroids or any external clusterer).
    2. Self-join WITHIN clusters only (one shuffle keyed on cluster id);
       pairs with cosine >= threshold are semantic duplicates.  Cluster
       size bounds the join — at 100 TB raise n_clusters so the largest
       cluster's pair count stays tractable (the paper uses ~100k
       clusters), exactly the IVF partition-pruning trade-off.
    3. Deterministic keep rule: drop x iff SOME same-cluster duplicate y
       ranks below it by (centroid-cosine, id) — i.e. survivors are the
       LOW-centroid-cosine representatives (SemDeDup keeps the examples
       least typical of the cluster, preserving diversity).  Ranking uses
       the micro-unit-quantized cosine, so the rule replays bit-identically
       in SQL.

    Returns surviving rows: (id, cluster, ccos_q).  A greedy
    any-smaller-neighbor rule, not connected components: chains drop every
    non-minimal member, matching the paper's per-cluster epsilon-dedup
    greedy.  No reference counterpart (the reference has no embedding
    pipeline); this is part of the LLM-training-data surface.
    """
    from inferdb_spark.functions.vector import dot, l2_norm

    a = df.select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("_v"),
        F.expr(assign_with_centroid_cosine_sql(f"`{vec_col}`", centroids)).alias("_asg"),
    ).select(
        F.col(id_col),
        F.col("_v"),
        # per-ROW norm, hoisted out of the pair predicate: the pair join
        # then folds only the dot product (1 fold/pair instead of 3 —
        # measured 2.5x on the sf1 pair stage).  Same float ops in the
        # same order as cosine_similarity, so the predicate is
        # bit-identical to the unhoisted form (and to the SQL oracle).
        l2_norm(F.col("_v")).alias("_n"),
        F.col("_asg.cluster").alias("cluster"),
        F.col("_asg.ccos_q").alias("ccos_q"),
    )
    # the assignment projection feeds three plan branches (x side, y side,
    # survivor anti-join) — localCheckpoint (eager) materializes it once so
    # the |centroids|-fold distance/cosine folds run once per row, and
    # unlike cache() leaves nothing registered in the CacheManager after
    # the operator returns (blocks are freed when the RDD is GC'd)
    a = a.localCheckpoint(eager=True)
    x, y = a.alias("x"), a.alias("y")
    dup = (
        F.col("x.cluster") == F.col("y.cluster")
    ) & (F.col(f"x.{id_col}") != F.col(f"y.{id_col}"))
    better = (F.col("y.ccos_q") < F.col("x.ccos_q")) | (
        (F.col("y.ccos_q") == F.col("x.ccos_q"))
        & (F.col(f"y.{id_col}") < F.col(f"x.{id_col}"))
    )
    close = (
        F.when(
            (F.col("x._n") > 0) & (F.col("y._n") > 0),
            dot(F.col("x._v"), F.col("y._v"))
            / (F.col("x._n") * F.col("y._n")),
        ).otherwise(F.lit(0.0))
        >= F.lit(float(threshold))
    )
    losers = (
        x.join(y, dup & better & close)
        .select(F.col(f"x.{id_col}").alias(id_col))
        .distinct()
    )
    return a.join(losers, id_col, "left_anti").select(
        id_col, "cluster", "ccos_q"
    )


def ivf_pq_search(
    indexed: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    n_probe: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """FAISS-style IVF-PQ composed query — the production 100 TB ANN
    shape: coarse cell pruning (driver ranks literal centroids, the scan
    filter prunes to `n_probe` inverted lists / partitions) + asymmetric
    -distance ranking over PQ codes (per-subspace LUT of query->codeword
    distances burned in as literals).

    Engine-portable ordering: the LUT entries are quantized to BIGINT
    micro-units in the DRIVER (shared literals), so the ADC distance is
    an exact integer sum once codes are chosen — ties at the k-boundary
    break on (adc_q, id) identically everywhere.  Code assignment itself
    is the W3 argmin-over-literals pattern (codegen, no Python).
    `indexed` must carry `list_id` (ivf_build); expects dim divisible by
    len(codebooks)."""
    probe_ids = coarse_probe_ids(centroids, query_vec, n_probe)
    sub = len(codebooks[0][0])
    luts_q: list[list[int]] = []
    for s, book in enumerate(codebooks):
        q_s = query_vec[s * sub : (s + 1) * sub]
        luts_q.append(
            [
                int(round(sum((q_s[j] - book[c][j]) ** 2 for j in range(sub)) * 1_000_000))
                for c in range(len(book))
            ]
        )
    from inferdb_spark.functions.text import bind_once

    # bind the encode array ONCE: adc references it |subspaces| times,
    # and Catalyst would inline (and re-evaluate) the whole M x K argmin
    # encode into every element_at — the unigram_em_round 6x trap
    # (measured ~4x on this query's scan stage)
    def with_codes(codes: Column) -> Column:
        adc_q = None
        for s, lq in enumerate(luts_q):
            lut = F.array(*[F.lit(x).cast("long") for x in lq])
            term = F.element_at(lut, F.element_at(codes, s + 1) + 1)
            adc_q = term if adc_q is None else adc_q + term
        return adc_q

    adc = bind_once(
        F.expr(pq_encode_sql(f"`{vec_col}`", codebooks)), with_codes
    )
    return (
        indexed.filter(F.col("list_id").isin(probe_ids))
        .select(F.col(id_col), adc.cast("long").alias("adc_q"))
        .orderBy(F.asc("adc_q"), F.asc(id_col))
        .limit(k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "id",
    rank_col: str = "rnk",
    k: int = 60,
    topn: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of pre-ranked top-k
    lists — the standard hybrid-retrieval combiner (lexical BM25 +
    embedding ANN).  Contribution per list is the INTEGER
    `1000000 div (k + rank)`, so fused scores are exact BIGINTs and the
    final ordering (rrf_micro DESC, id ASC) is engine-portable.  Inputs
    are top-k lists (tiny by construction); the fuse is a union + one
    aggregation over <= Σk rows — driver-free and trivially scalable to
    many rankers."""
    from functools import reduce

    u = reduce(
        lambda a, b: a.unionByName(b),
        [r.select(F.col(id_col), F.col(rank_col)) for r in rankings],
    )
    return (
        u.groupBy(id_col)
        .agg(
            F.sum(F.expr(f"1000000L div ({int(k)} + {rank_col})"))
            .cast("long")
            .alias("rrf_micro"),
            F.count("*").cast("long").alias("n_lists"),
        )
        .orderBy(F.desc("rrf_micro"), F.asc(id_col))
        .limit(topn)
    )


def hard_negative_mining(
    anchors: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    k: int = 5,
    max_anchor_rows: int = 100_000,
) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: for every
    anchor, the top-k most-similar corpus items with a DIFFERENT label
    (the negatives that actually move the loss).

    Plan: broadcast the (small) anchor relation against the corpus scan,
    filter label mismatch, exact cosine, then one window top-k per anchor
    (shuffle keyed on anchor id).  Ranking uses the 6dp-rounded cosine
    with id tie-break, so ranks are engine-portable.  At 100 TB replace
    the broadcast-cross candidate step with IVF probing (ivf_build +
    list_id filter) — the window stage is unchanged.

    Guarded: raises if the anchor side exceeds `max_anchor_rows` (the
    brute-force candidate volume is |anchors| x |corpus|; past the bound,
    hard_negative_mining_ivf is the documented path).  Pass a larger
    bound explicitly only for parity testing."""
    from pyspark.sql.window import Window

    from inferdb_spark.functions.vector import l2_norm
    from inferdb_spark.scale import assert_small_side

    anchors = assert_small_side(
        anchors, max_anchor_rows, "hard_negative_mining",
        "similarity.hard_negative_mining_ivf",
    )
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        as_double_array(F.col(vec_col)).alias("_av"),
        F.col(label_col).alias("_al"),
    ).withColumn("_an", l2_norm(F.col("_av")))
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        as_double_array(F.col(vec_col)).alias("_cv"),
        F.col(label_col).alias("_cl"),
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    # per-row norms hoisted: only the dot folds per candidate pair
    pairs = c.join(F.broadcast(a), F.col("_al") != F.col("_cl")).select(
        "anchor_id",
        "cand_id",
        F.round(
            F.when(
                (F.col("_an") > 0) & (F.col("_cn") > 0),
                dot(F.col("_av"), F.col("_cv"))
                / (F.col("_an") * F.col("_cn")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("cosine_r6"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine_r6"), F.asc("cand_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "anchor_id",
            "cand_id",
            F.col("rnk").cast("long").alias("rnk"),
            F.col("cosine_r6").cast("double").alias("cosine_r6"),
        )
    )


def hard_negative_mining_ivf(
    anchors: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-shortlisted hard-negative mining — the 100 TB shape of
    `hard_negative_mining`: candidate generation is an EQUI-join on the
    IVF list id instead of an anchors x corpus nested loop.

    1. Corpus side: `ivf_build` assigns every vector to its inverted list
       (map-only; at scale the corpus is stored partitioned by list_id).
    2. Anchor side: `ivf_probe_cells_sql` ranks the literal centroids per
       anchor and explodes the n_probe nearest list ids — |anchors| x
       n_probe rows.
    3. Join anchors to corpus ON list_id (hash join — broadcastable for
       small anchor batches, shuffle-on-list_id otherwise), filter label
       mismatch, exact cosine, one window top-k per anchor.

    Candidate volume is sum over anchors of their probed lists' sizes
    (~ n_probe/n_lists of the corpus per anchor) instead of
    |anchors| * |corpus|; recall follows the IVF probe trade-off and
    equals the exact variant when n_probe = n_lists (parity-tested).
    Probe ranking ties break (distance, list_id) ascending — identical
    in ivf_probe_cells_sql, coarse_probe_ids, and the gate oracle."""
    from pyspark.sql.window import Window

    from inferdb_spark.functions.vector import l2_norm

    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        as_double_array(F.col(vec_col)).alias("_av"),
        F.col(label_col).alias("_al"),
        F.explode(
            F.expr(ivf_probe_cells_sql(f"`{vec_col}`", centroids, n_probe))
        ).alias("list_id"),
    ).withColumn("_an", l2_norm(F.col("_av")))
    c = ivf_build(corpus, vec_col, centroids, id_col).select(
        F.col(id_col).alias("cand_id"),
        as_double_array(F.col(vec_col)).alias("_cv"),
        F.col(label_col).alias("_cl"),
        "list_id",
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    # per-row norms hoisted: only the dot folds per candidate pair
    pairs = (
        c.join(F.broadcast(a), "list_id")
        .where(F.col("_al") != F.col("_cl"))
        .select(
            "anchor_id",
            "cand_id",
            F.round(
                F.when(
                    (F.col("_an") > 0) & (F.col("_cn") > 0),
                    dot(F.col("_av"), F.col("_cv"))
                    / (F.col("_an") * F.col("_cn")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("cosine_r6"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine_r6"), F.asc("cand_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "anchor_id",
            "cand_id",
            F.col("rnk").cast("long").alias("rnk"),
            F.col("cosine_r6").cast("double").alias("cosine_r6"),
        )
    )


# ---------------------------------------------------------------------------
# SQ8: scalar (int8) quantization — the deterministic compressed-search tier
# ---------------------------------------------------------------------------


def fit_sq8_scales(df: DataFrame, vec_col: str = "embedding") -> list[float]:
    """Per-dimension max-|x| scales for symmetric int8 quantization (the
    FAISS ScalarQuantizer QT_8bit_direct family; per-dim beats per-tensor
    when dimensions differ in range).  posexplode → per-dim max — one
    shuffle of d tiny groups; d scalars to the driver (fit-time collect,
    the fit_ivf_centroids budget).  max over the raw values involves no
    arithmetic, so the scales are bit-identical in any engine."""
    rows = (
        df.select(F.posexplode(as_double_array(F.col(vec_col))).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.max(F.abs(F.col("x"))).alias("s"))
        .collect()
    )
    out = [0.0] * (max(r["dim"] for r in rows) + 1)
    for r in rows:
        out[r["dim"]] = float(r["s"])
    return out


def sq8_quantize_col(vec_col: Column, scales: list[float]) -> Column:
    """array<bigint> of symmetric int8 codes: q_i = floor(x_i/s_i*127+0.5)
    (zero when s_i = 0 — a constant dimension carries no signal).  The
    rounding is the repo's half-up floor(+0.5): identical IEEE ops in
    Spark, DuckDB, and driver-side Python, so codes replay exactly."""
    sl = F.array(*[F.lit(float(s)) for s in scales])
    return F.zip_with(
        as_double_array(vec_col),
        sl,
        lambda x, s: F.when(s > 0.0, F.floor(x / s * 127.0 + 0.5))
        .otherwise(F.lit(0))
        .cast("long"),
    )


def sq8_quantize_query(query_vec: list[float], scales: list[float]) -> list[int]:
    """Driver-side twin of sq8_quantize_col for the literal query vector
    (Python floats ARE IEEE doubles — same ops, same codes)."""
    import math

    return [
        int(math.floor(x / s * 127.0 + 0.5)) if s > 0.0 else 0
        for x, s in zip(query_vec, scales)
    ]


def sq8_topk(
    df: DataFrame,
    vec_col: str,
    scales: list[float],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by EXACT-INTEGER quantized dot product — the SQ8 ANN tier
    between brute-force float cosine and PQ: 4× (float32) compression,
    zero transcendentals, zero float accumulation, so the ranking (and
    its k-boundary ties, broken on (dot_q DESC, id ASC)) is bit-exact on
    any engine and any shuffle order.  Map-only quantize + integer
    zip_with/aggregate fold + TakeOrderedAndProject: the cosine_topk
    plan shape with BIGINT math.  At 100 TB the quantized corpus is the
    stored artifact (codes written once at ingest; scans read 64 B/row
    instead of 256 B) and this operator is the scan-time ranker.

    Reference has no vector search at all (nearest-neighbor is the
    kv-probe of /root/reference/src/index.py); beyond-reference operator.
    """
    qq = sq8_quantize_query(query_vec, scales)
    qv = sq8_quantize_col(F.col(vec_col), scales)
    qlit = F.array(*[F.lit(int(v)).cast("long") for v in qq])
    dot_q = F.aggregate(
        F.zip_with(qv, qlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        df.select(F.col(id_col), dot_q.alias("dot_q"))
        .orderBy(F.desc("dot_q"), F.asc(id_col))
        .limit(k)
    )


def cluster_balanced_sample(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    quota: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-balanced (topic-balanced) subsampling: assign every vector
    to its nearest literal centroid (ivf_assign_sql — a map-only argmin, no
    join), then keep a deterministic pseudo-random `quota` per cluster by
    ranking on the portable 52-bit hash of the id (h52 ASC, id ASC).
    The diversity-preserving alternative to uniform sampling for
    pretraining subsets (head topics can't crowd out the tail — the
    balanced-sampling step of DoReMi/Cluster-based curation recipes).

    Scale: one shuffle keyed on cluster id for the per-cluster window;
    parallelism = n_clusters, so size the centroid count to the cluster
    (the SemDeDup knob), or pre-shard giant clusters by h52(id) % k with
    quota/k per shard.  Deterministic: hash-rank is a pure function of
    the id — identical under retries, partitioning, and engines.
    Output: (id, cluster, rk) for kept rows.
    """
    from pyspark.sql import Window

    from inferdb_spark.functions.hashing import h52

    asg = df.select(
        F.col(id_col),
        F.expr(ivf_assign_sql(f"`{vec_col}`", centroids)).alias("cluster"),
        h52(F.col(id_col).cast("string")).alias("_h"),
    )
    w = Window.partitionBy("cluster").orderBy(F.asc("_h"), F.asc(id_col))
    return (
        asg.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= int(quota))
        .select(id_col, "cluster", F.col("rk").cast("long").alias("rk"))
    )


def semantic_dedup_incremental(
    existing: DataFrame,
    batch: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
) -> DataFrame:
    """Incremental SemDeDup — dedup a NEW ingest batch against an
    immutable already-kept corpus without re-pairing the corpus (the
    incremental_lsh_candidates pattern applied to semantic dedup).

    A batch vector x is dropped iff (a) some EXISTING vector in x's
    cluster is a semantic duplicate (cosine >= threshold; existing
    always wins — the kept corpus is append-only), or (b) some BATCH
    vector in x's cluster duplicates it and ranks below it by
    (centroid-cosine micro-units, id) — exactly `semantic_dedup`'s
    greedy keep rule, so with an empty `existing` this reduces to
    semantic_dedup(batch) (pytest-asserted).

    Plan: map-only assigns on both sides; both duplicate joins shuffle
    keyed on cluster id only; per-pair work is one dot fold (per-row
    norms hoisted).  At 100 TB the kept corpus is stored pre-assigned
    and bucketed by cluster, so each ingest batch touches only its
    clusters' buckets.  Returns batch survivors (id, cluster, ccos_q).
    """
    from inferdb_spark.functions.vector import l2_norm

    def _prep(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col(id_col),
                as_double_array(F.col(vec_col)).alias("_v"),
                F.expr(
                    assign_with_centroid_cosine_sql(f"`{vec_col}`", centroids)
                ).alias("_asg"),
            )
            .select(
                F.col(id_col),
                F.col("_v"),
                l2_norm(F.col("_v")).alias("_n"),
                F.col("_asg.cluster").alias("cluster"),
                F.col("_asg.ccos_q").alias("ccos_q"),
            )
            .localCheckpoint(eager=True)
        )

    b = _prep(batch)
    ex = _prep(existing)

    def _close(xs: str, ys: str) -> Column:
        return (
            F.when(
                (F.col(f"{xs}._n") > 0) & (F.col(f"{ys}._n") > 0),
                dot(F.col(f"{xs}._v"), F.col(f"{ys}._v"))
                / (F.col(f"{xs}._n") * F.col(f"{ys}._n")),
            ).otherwise(F.lit(0.0))
            >= F.lit(float(threshold))
        )

    x, y, e = b.alias("x"), b.alias("y"), ex.alias("e")
    lose_ex = (
        x.join(
            e,
            (F.col("x.cluster") == F.col("e.cluster")) & _close("x", "e"),
        )
        .select(F.col(f"x.{id_col}").alias(id_col))
        .distinct()
    )
    better = (F.col("y.ccos_q") < F.col("x.ccos_q")) | (
        (F.col("y.ccos_q") == F.col("x.ccos_q"))
        & (F.col(f"y.{id_col}") < F.col(f"x.{id_col}"))
    )
    lose_batch = (
        x.join(
            y,
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col(f"x.{id_col}") != F.col(f"y.{id_col}"))
            & better
            & _close("x", "y"),
        )
        .select(F.col(f"x.{id_col}").alias(id_col))
        .distinct()
    )
    losers = lose_ex.unionByName(lose_batch).distinct()
    return b.join(losers, id_col, "left_anti").select(
        id_col, "cluster", "ccos_q"
    )
