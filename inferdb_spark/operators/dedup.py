"""Deduplication operators for large-scale training-data pipelines.

All hash math is engine-portable integer arithmetic over md5-derived token
hashes (functions/hashing.py) so results are reproducible bit-for-bit by an
independent SQL engine — and, more importantly at 100 TB, deterministic
across retries/speculative tasks.

Scale design:
- exact dedup: one shuffle on a content hash (never on the content itself);
- MinHash+LSH: signatures are a per-row projection (no shuffle); candidate
  generation shuffles only (band_id, band_key, doc_id) triples — tiny
  compared to the corpus; the quadratic blow-up is confined to same-bucket
  collisions, which is the whole point of banding;
- SimHash: per-row projection to a single BIGINT; near-dup = same bucket on
  high bits or hamming distance on candidates;
- n-gram Jaccard verification joins only candidate pairs back to shingle
  sets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from inferdb_spark.functions.hashing import MERSENNE_P, perm_params
from inferdb_spark.functions.text import char_ngrams_sql, tokens_sql, word_ngrams_sql


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per distinct content (hash-groupBy dedup).
    Returns the deduplicated frame.  The shuffle key is md5(content), never
    the raw content — constant-width keys regardless of document size."""
    h = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in content_cols]))
    # NOTE (r10): spreading before the md5 was A/B-measured a small
    # regression (0.28 -> 0.40 s isolated) and is wrong at scale anyway —
    # it round-robins the full CONTENT to parallelize one md5 per row
    # (guide §2.3: never shuffle the payload for light map work).
    keep = (
        df.select(F.col(id_col), h.alias("_h"))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "left_semi")


def _shingle_hashes_sql(
    text_sql: str, shingle_n: int, mode: str, hash_fn: str = "md5"
) -> str:
    """Distinct shingles -> integer hashes reduced mod P (SQL array text).

    hash_fn="md5": 52-bit md5 prefix — engine-portable (the oracle gate
    recomputes it in DuckDB), but MessageDigest is the minhash bottleneck.
    hash_fn="xxhash64": JVM-native, ~2× faster signatures — the cluster
    default when cross-engine reproducibility isn't required (still fully
    deterministic within Spark, so retries/speculation are safe).
    """
    sh = (
        char_ngrams_sql(text_sql, shingle_n)
        if mode == "char"
        else word_ngrams_sql(text_sql, shingle_n)
    )
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    if hash_fn == "xxhash64":
        elem = f"pmod(xxhash64(s), {MERSENNE_P})"
    else:
        elem = (
            f"CAST(conv(substring(md5(s), 1, 13), 16, 10) AS BIGINT) "
            f"% {MERSENNE_P}"
        )
    return f"transform(array_distinct({sh}), s -> {elem})"


def minhash_signature_sql(
    text_sql: str,
    n_hashes: int = 32,
    shingle_n: int = 4,
    mode: str = "char",
    seed: int = 42,
    hash_fn: str = "md5",
) -> str:
    """array<bigint> MinHash signature (SQL text) as ONE fold over the
    shingle hashes.

    sig_i = min over shingles of (a_i * h(shingle) + b_i) mod P; empty
    documents get P (an impossible hash) in every slot so they only match
    other empty documents.

    Perf-critical shape: a naive per-slot `array_min(transform(hs, perm_i))`
    re-evaluates the md5 shingle pipeline once per permutation (Catalyst
    inlines the shared subtree into every slot) — measured 40× slower.  The
    single aggregate walks the hashes once and least-merges an accumulator
    array, so each shingle is hashed exactly once regardless of n_hashes.
    As SQL text the whole tree is one JVM-side parse instead of
    ~n_hashes x 3 py4j calls per construction (the signature tree is
    rebuilt inside every timed bench iteration).
    """
    hs = _shingle_hashes_sql(text_sql, shingle_n, mode, hash_fn)
    params = perm_params(n_hashes, seed)
    init = "array(" + ", ".join(
        f"CAST({MERSENNE_P} AS BIGINT)" for _ in range(n_hashes)
    ) + ")"
    permed = "array(" + ", ".join(
        f"({a} * x + {b}) % {MERSENNE_P}" for a, b in params
    ) + ")"
    return (
        f"aggregate({hs}, {init}, "
        f"(acc, x) -> zip_with(acc, {permed}, (u, v) -> least(u, v)))"
    )


def lsh_band_relation(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 4,
    mode: str = "char",
    seed: int = 42,
    hash_fn: str = "md5",
    parallelism: int | None = None,
) -> DataFrame:
    """(id, band_id, band_key) — the persistable LSH state: tiny strings,
    O(rows × bands), independent of document length.  Persist this
    relation to dedup future batches against the corpus WITHOUT
    re-hashing history (see incremental_lsh_candidates)."""
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be a multiple of bands ({bands})"
        )
    rpb = n_hashes // bands
    if parallelism:
        # narrow FIRST: the explicit-width branch must shuffle only the
        # (id, text) columns the signature reads, like the spread branch
        # below — repartitioning the full-width df ships every payload
        # column through the exchange (round-10 advice item 4, guide §2.3)
        df = df.select(F.col(id_col), F.col(text_col)).repartition(parallelism)
    else:
        from inferdb_spark.scale import spread

        # spread: the signature (shingle + n_hashes permutation mins per
        # row, md5-heavy) is the minhash bottleneck; a one-row-group scan
        # runs it on ONE core (guide §2.2).  Signatures are per-row
        # deterministic — layout cannot affect the band relation.
        df = spread(df.select(F.col(id_col), F.col(text_col)))
    sig = df.select(
        F.col(id_col),
        F.expr(
            minhash_signature_sql(
                f"`{text_col}`", n_hashes, shingle_n, mode, seed, hash_fn
            )
        ).alias("sig"),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    ".", *[F.element_at("sig", b * rpb + r + 1).cast("string") for r in range(rpb)]
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(id_col, F.explode(band_structs).alias("b")).select(
        id_col, F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )


def incremental_lsh_candidates(
    new_bands: DataFrame, corpus_bands: DataFrame, id_col: str
) -> DataFrame:
    """Candidate near-duplicate pairs for a NEW batch against an existing
    corpus: new×new (self join) plus new×corpus — history is probed via
    its persisted band relation only (documents are never re-hashed and
    never shuffle).  Incremental-ingest twin of minhash_lsh_pairs: at
    steady state each batch costs O(batch) signatures + an equi-join of
    the batch's bands against the (bucketable) corpus band store.
    Assumes batch ids are disjoint from corpus ids (pairs are returned
    id_a < id_b either way).
    """
    a = new_bands.alias("a")
    b = new_bands.alias("b")
    new_new = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    c = corpus_bands.alias("c")
    new_old = (
        a.join(
            c,
            (F.col("a.band_id") == F.col("c.band_id"))
            & (F.col("a.band_key") == F.col("c.band_key"))
            & (F.col(f"a.{id_col}") != F.col(f"c.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"c.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"c.{id_col}")).alias("id_b"),
        )
    )
    return new_new.unionByName(new_old).distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 4,
    mode: str = "char",
    seed: int = 42,
    hash_fn: str = "md5",
    parallelism: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash LSH.

    rows/band = n_hashes/bands; two docs collide if any band of their
    signatures is identical.  The self-join runs on (band_id, band_key) —
    an equi join Catalyst executes as a shuffled hash join keyed on tiny
    strings, never on the documents.

    `parallelism`: repartition the input before the CPU-heavy signature
    projection.  Needed when the source is a few small files (Spark
    assigns one task per file → one core does all the hashing); leave None
    for large inputs that already carry enough partitions — the extra
    shuffle would cost more than it buys.
    """
    bands_df = lsh_band_relation(
        df, id_col, text_col, n_hashes, bands, shingle_n, mode, seed,
        hash_fn, parallelism,
    )
    a = bands_df.alias("a")
    bdf = bands_df.alias("b")
    return (
        a.join(
            bdf,
            (F.col(f"a.band_id") == F.col(f"b.band_id"))
            & (F.col(f"a.band_key") == F.col(f"b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    ngram_n: int = 3,
    mode: str = "word",
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: join shingle sets back and
    compute |∩|/|∪| with array ops — integers, so the similarity is an
    exact division (engine-portable)."""
    ngrams_sql = char_ngrams_sql if mode == "char" else word_ngrams_sql
    sh = F.expr(ngrams_sql(f"`{text_col}`", ngram_n))
    sets = df.select(F.col(id_col), F.array_distinct(sh).alias("sh"))
    out = (
        pairs.join(sets.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


def dedup_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.85,
    n_hashes: int = 32,
    bands: int = 4,
    shingle_n: int = 4,
    hash_fn: str = "md5",
    parallelism: int | None = None,
) -> DataFrame:
    """End-to-end near-dedup pipeline: exact dedup → MinHash-LSH candidates
    → n-gram-Jaccard verification → drop every non-lowest id of each
    connected duplicate group (union-find collapsed to min-root via the
    standard keep-lowest-partner rule: a row is dropped if ANY verified
    partner has a lower id — sufficient when similarity is transitive
    enough at the chosen threshold, the standard large-corpus shortcut).

    Returns the surviving rows of `df`.  Scale: exact pass shuffles
    constant-width hashes; candidate pass shuffles band keys; the Jaccard
    join touches only candidate pairs.
    """
    survivors = exact_dedup(df, [text_col], id_col)
    pairs = minhash_lsh_pairs(
        survivors, id_col, text_col,
        n_hashes=n_hashes, bands=bands, shingle_n=shingle_n,
        hash_fn=hash_fn, parallelism=parallelism,
    )
    verified = ngram_jaccard(
        survivors, pairs, id_col, text_col, ngram_n=shingle_n, mode="char"
    ).filter(F.col("jaccard") >= jaccard_threshold)
    drop_ids = verified.select(F.col("id_b").alias(id_col)).distinct()
    return survivors.join(drop_ids, id_col, "left_anti")


def simhash_sql(text_sql: str, n_bits: int = 48) -> str:
    """SimHash fingerprint (BIGINT, SQL text) over word-token hashes — one
    projection.

    bit_j(doc) = 1 iff Σ_tokens (±1 by bit j of h(token)) > 0.  Near-dups
    have small hamming distance; group by the fingerprint (or high bits)
    to bucket.  Token hashes are 52-bit, so 1 <= n_bits <= 52: a higher
    bit would always be 0.

    One fold accumulates all per-bit votes at once (a per-bit aggregate
    would re-run the md5 token pipeline n_bits times — see the minhash
    note), and the folded votes are bound once as the lambda variable
    `votes` (the bind_once shape) — referencing the aggregate from every
    per-bit term would re-run it n_bits times.
    """
    if not 1 <= n_bits <= 52:
        raise ValueError(f"n_bits must be in [1, 52], got {n_bits}")
    th = (
        f"transform({tokens_sql(text_sql)}, "
        "t -> CAST(conv(substring(md5(t), 1, 13), 16, 10) AS BIGINT))"
    )
    init = "array(" + ", ".join("0" for _ in range(n_bits)) + ")"
    bits = "array(" + ", ".join(
        f"CASE WHEN (shiftright(x, {j}) & 1) = 1 THEN 1 ELSE -1 END"
        for j in range(n_bits)
    ) + ")"
    fp = "CAST(0 AS BIGINT) + " + " + ".join(
        f"CASE WHEN element_at(votes, {j + 1}) > 0 "
        f"THEN CAST({2 ** j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(n_bits)
    )
    return (
        f"element_at(transform(array(aggregate({th}, {init}, "
        f"(acc, x) -> zip_with(acc, {bits}, (u, v) -> u + v))), "
        f"votes -> {fp}), 1)"
    )


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, n_bits: int = 48, max_hamming: int = 3,
    band_bits: int = 12,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on `n_bits/band_bits` disjoint bit
    bands (a pair within hamming d must agree on ≥1 band if bands >
    max_hamming), verify with exact hamming distance."""
    from inferdb_spark.scale import spread

    # spread: the per-row simhash (shingle + md5 per shingle) is the
    # heavy map work; a one-row-group scan runs it on ONE core
    # (guide §2.2).  Fingerprints are per-row deterministic.
    fp_df = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.expr(simhash_sql(f"`{text_col}`", n_bits)).alias("fp")
    )
    n_bands = n_bits // band_bits
    bands = fp_df.select(
        id_col,
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("fp"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "fp", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    return cand.select(
        "id_a", "id_b", hamming_distance(F.col("fp_a"), F.col("fp_b")).alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 4,
) -> DataFrame:
    """EXACT set-similarity join candidates by prefix filtering
    (PPJoin-family): pairs that can possibly reach Jaccard ≥ threshold.

    The LSH alternative with a guarantee instead of a probability: order
    each doc's distinct shingles by global rarity (document frequency asc,
    shingle asc — a deterministic total order), keep only the first
    |d| − ⌈t·|d|⌉ + 1 as the doc's PREFIX, and join docs sharing a prefix
    shingle.  Any pair with J ≥ t MUST share a prefix element (pigeonhole
    over the rarity order), so there are NO false negatives; rare-first
    ordering keeps posting lists short, so the candidate join stays small
    where a full inverted-index join would explode on common shingles.
    Downstream: verify candidates with ngram_jaccard, exactly like the
    LSH path.

    Scale: the doc-frequency relation is vocabulary-sized — bounded for
    char n-grams but UNBOUNDED for word shingles, so it carries no
    broadcast hint: AQE broadcasts it when its runtime size is under the
    threshold and falls back to a shuffled join otherwise (forcing the
    broadcast was a driver-OOM ceiling on large word vocabularies).
    Prefix postings are ~(1−t)·|d| rows per doc; the candidate join
    shuffles only (shingle, id) pairs.
    """
    from pyspark.sql.window import Window

    sh = F.expr(
        char_ngrams_sql(f"`{text_col}`", shingle_n)
        if shingle_n > 0
        else tokens_sql(f"`{text_col}`")
    )
    from inferdb_spark.scale import spread

    # spread: shingle explode off the one-task scan (guide §2.2)
    sets = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(F.array_distinct(sh)).alias("s")
    )
    dfreq = sets.groupBy("s").agg(F.count("*").alias("df"))
    sized = sets.join(dfreq, "s").withColumn(
        "sz", F.count("*").over(Window.partitionBy(id_col))
    )
    w = Window.partitionBy(id_col).orderBy("df", "s")
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    prefix = sized.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= prefix_len
    )
    a = prefix.select(F.col(id_col).alias("id_a"), "s")
    b = prefix.select(F.col(id_col).alias("id_b"), "s")
    return (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def split_leakage_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 4,
    mode: str = "char",
    seed: int = 42,
    hash_fn: str = "md5",
    test_mod: int = 10,
    parallelism: int | None = None,
) -> DataFrame:
    """Train/test split-leakage audit (the Lee et al. 2022 / GPT-3 app.
    concern: near-duplicates of eval/test docs inside the training
    split silently inflate scores).  Split assignment is the
    deterministic h52(id) % test_mod == 0 hash split; candidates are
    MinHash band-bucket collisions BETWEEN splits (the exact machinery of
    minhash_lsh_pairs, so no all-pairs join — the band join only
    shuffles (band, key, id) triples).  Returns one row per test doc
    with at least one train-side candidate: (test_id, n_train_cands,
    min_train_id) — feed flagged pairs to ngram_jaccard for exact
    verification, then excise or re-split.  Scales like the LSH dedup:
    corpus-linear.

    Round-5 performance shape (measured at sf1, 50k near-dup-dense docs):
    - the band relation is localCheckpoint'ed before splitting: both join
      sides filter the SAME relation, and without materialization Spark
      recomputes the MinHash signature subtree once per side;
    - signatures are computed at full parallelism (`parallelism` defaults
      to sparkContext.defaultParallelism) — a document scan often arrives
      in a handful of input splits, which would serialize the dominant
      md5-minhash CPU;
    - both join sides are EXPLICITLY hash-repartitioned on the band key:
      the band relation's map output is tiny (a few MB), so AQE coalesces
      the join to 1-2 partitions — but this join EXPLODES (a near-dup-
      dense corpus emits ~100x its input in candidate pairs), and
      coalescing serializes the explosion.  Explicit repartition-by-num
      pins the fan-out across the cluster (AQE honors user repartition
      counts).  Together: 43.9s -> 7.0s median at sf1 (6.3x)."""
    from inferdb_spark.functions.hashing import h52

    if parallelism is None:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
    b = lsh_band_relation(
        df, id_col, text_col, n_hashes, bands, shingle_n, mode, seed, hash_fn,
        parallelism=parallelism,
    ).withColumn(
        "_test",
        (h52(F.col(id_col).cast("string")) % test_mod == 0).cast("int"),
    )
    b = b.localCheckpoint(eager=True)
    test = b.where(F.col("_test") == 1).select(
        F.col(id_col).alias("test_id"), "band_id", "band_key"
    ).repartition(parallelism, "band_id", "band_key")
    train = b.where(F.col("_test") == 0).select(
        F.col(id_col).alias("train_id"), "band_id", "band_key"
    ).repartition(parallelism, "band_id", "band_key")
    # countDistinct folds the pair dedup into the final aggregate — one
    # shuffle on test_id instead of distinct-pairs + regroup (the raw
    # band join emits a (test, train) row per shared band; dense
    # near-dup corpora make that multiplicity large, so not
    # materializing the distinct pair relation matters)
    cands = test.join(train, ["band_id", "band_key"]).select(
        "test_id", "train_id"
    )
    return cands.groupBy("test_id").agg(
        F.countDistinct("train_id").cast("long").alias("n_train_cands"),
        F.min("train_id").cast("long").alias("min_train_id"),
    )
