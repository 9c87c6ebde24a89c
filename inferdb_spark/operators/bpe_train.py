"""Distributed BPE tokenizer TRAINING (Sennrich et al. 2016) — in-engine.

The reference has no tokenizer trainer (its BPE-ish surface is the
pre-tokenizer in functions/text.py); this closes the training half of the
tokenization story for an LLM data pipeline, Spark-first:

- **All heavy state is the DISTINCT-WORD relation** (word, count, symbol
  sequence): corpus-size-independent after the first aggregation, exactly
  how word-level BPE trainers (subword-nmt, HuggingFace) operate.  At
  100 TB the vocabulary is millions of rows while the corpus is billions —
  every merge round costs one aggregation over the vocab relation only.
- **One aggregation per merge round**: explode adjacent symbol pairs
  (weighted by word count) -> groupBy(pair) -> sum -> argmax.  The driver
  receives ONE row per round (the winning pair) — the same
  driver/cluster split as gbt_train.py's histogram collect.
- **Merge application is a literal string replace** on the
  space-delimited symbol sequence (' a b ' -> ' ab '): left-to-right
  non-overlapping replacement == greedy BPE merge order, and the IDENTICAL
  operation exists in every SQL dialect — which makes the WHOLE training
  loop replayable as chained CTEs (fit_bpe_sql), so the gate
  hash-checks the trainer itself, like gbt_train's training oracle.
- **Bit-deterministic**: pair counts are integer sums; the argmax breaks
  ties by (count DESC, left symbol ASC, right symbol ASC).
- **Driver-sized vocabularies run on the driver**: at most
  `_DRIVER_SYMBOL_CAP` symbols are collected once as Arrow and the same
  rounds (counts, tie-break, batches, literal replaces) run in Python; the
  sf0.1 gate's 31-word vocabulary took 20 jobs and 2.4 s in Spark, 2 jobs
  and 0.5 s this way (traced 4-vCPU pass).  Over the cap the Spark rounds run; deciding
  costs at most one bounded `LIMIT` job.  The cap's measurements are at
  its definition.

`bpe_apply` burns a fitted merge list into a chained-replace projection —
tokenizing a 100 TB corpus with the learned merges is then map-only.
"""

from __future__ import annotations

import heapq
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from inferdb_spark.functions.text import duckdb_tokens, tokens_sql


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt, seq): distinct words with counts and the initial
    character-level symbol sequence '|c1||c2|...|cn|'.

    Each symbol is WRAPPED in '|' (safe: normalized tokens are [a-z0-9])
    so adjacent pair occurrences share NO characters — a literal replace
    of '|a||b|' is then exactly the non-overlapping left-to-right merge
    pass of Sennrich BPE ('aaaa' -> [aa, aa], 'aaa' -> [aa, a]).  A
    space-delimited form would share the boundary space between
    occurrences and under-merge runs of repeated symbols."""
    words = df.select(F.explode(F.expr(tokens_sql(f"`{text_col}`"))).alias("word"))
    vocab = words.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))
    chars = F.expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    )
    return vocab.withColumn(
        "seq", F.concat(F.lit("|"), F.array_join(chars, "||"), F.lit("|"))
    )


# Run the merge rounds on the driver at or under this many symbols (sum of
# word lengths) over the distinct words.  8 merges over random words of 3-12
# letters, 4 vCPU, warm JVM: 7.8e5 symbols took 5 s on the driver against
# 30 s in Spark, 8.2e6 symbols 37 s against 83 s.  The driver's marginal
# cost (about 4.5 us a symbol) stays under Spark's (about 7 us), so no time
# crossover was found on 4 vCPU; the cap is the largest size measured,
# bounding the driver's memory and the over-cap probe's transfer.
_DRIVER_SYMBOL_CAP = 8_000_000

# Candidates offered per round, per merge wanted: the headroom lets symbol
# collisions among the top candidates still leave the wanted disjoint picks
# in most rounds (fewer is fine — the next round re-counts and re-offers them)
_HEADROOM = 4

_SYMS_SQL = "split(trim(BOTH '|' FROM seq), '\\\\|\\\\|')"


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word count — ONE
    aggregation over the vocab relation."""
    syms = F.expr(_SYMS_SQL)
    pairs = F.expr(
        f"transform(sequence(1, size({_SYMS_SQL}) - 1),"
        f" i -> struct({_SYMS_SQL}[i-1] AS a,"
        f"             {_SYMS_SQL}[i] AS b))"
    )
    return (
        vocab.where(F.size(syms) >= 2)
        .select(F.explode(pairs).alias("p"), F.col("cnt"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").cast("long").alias("c"))
    )


def fit_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    checkpoint_every: int = 4,
    batch_m: int = 1,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn `n_merges` BPE merges.  Returns (merges, final vocab
    relation); merges[i] = (left, right, pair_count) in learned order.

    `batch_m` > 1 enables the standard parallel-BPE batching (e.g.
    Tokenizers/SentencePiece trainers at scale): each round takes the top
    `batch_m` candidate pairs that are pairwise SYMBOL-DISJOINT and merges
    them all in one replace chain.  Disjoint merges commute — neither
    destroys nor creates occurrences of the other, so their pre-round
    counts stay exact and the batch equals running them sequentially in
    count order; the approximation vs pure sequential BPE is only that a
    pair CREATED by this round's earlier merge (e.g. ('ab','c') after
    ('a','b')) cannot be picked until next round.  batch_m=1 is exactly
    sequential Sennrich BPE (pytest parity-asserted).  A 32k-vocab fit
    needs ~32k/batch_m Spark jobs instead of 32k — the rounds-vs-vocab
    bound is documented in DESIGN_SCALE.md.  Driver traffic: ~4*batch_m
    candidate rows per round.

    A vocabulary of at most `_DRIVER_SYMBOL_CAP` symbols runs the same
    rounds on the driver (see the module docstring); the final vocab is
    then a local relation."""
    from inferdb_spark.scale import free_local_checkpoint, rotate_local_checkpoint

    # lazily: the probe's one job materializes it, or the first round's does
    vocab = _word_vocab(df, text_col).localCheckpoint(eager=False)
    local = vocab.limit(_DRIVER_SYMBOL_CAP + 1).toArrow()
    n_symbols = pc.sum(pc.utf8_length(local["word"])).as_py() or 0
    if local.num_rows <= _DRIVER_SYMBOL_CAP and n_symbols <= _DRIVER_SYMBOL_CAP:
        free_local_checkpoint(vocab)
        return _driver_merges(df.sparkSession, local, n_merges, batch_m)
    last_ckpt = vocab
    merges: list[tuple[str, str, int]] = []
    done = 0
    while done < n_merges:
        want = min(batch_m, n_merges - done)
        cand = (
            _pair_counts(vocab)
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(_HEADROOM * want)
            .collect()
        )
        batch = _pick_batch([(r["a"], r["b"], int(r["c"])) for r in cand], want)
        if not batch:
            break
        seq = F.col("seq")
        for a, b, _ in batch:
            seq = F.replace(seq, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
        vocab = vocab.withColumn("seq", seq)
        merges.extend(batch)
        done += len(batch)
        if (done // max(batch_m, 1)) % checkpoint_every == 0 or len(batch) < want:
            vocab = rotate_local_checkpoint(vocab, last_ckpt)
            last_ckpt = vocab
    return merges, vocab


def _pick_batch(
    cand: list[tuple[str, str, int]], want: int
) -> list[tuple[str, str, int]]:
    """The first `want` pairwise symbol-disjoint (a, b, count) candidates,
    in candidate order."""
    used: set[str] = set()
    batch: list[tuple[str, str, int]] = []
    for a, b, c in cand:
        if a in used or b in used:
            continue
        batch.append((a, b, c))
        # reserve the NEW symbol's spelling too: a later batch member
        # over an existing same-spelled symbol would otherwise also
        # merge the occurrences this replace just created, making its
        # recorded pre-round count stale
        used.update((a, b, a + b))
        if len(batch) == want:
            break
    return batch


def _driver_merges(
    spark: SparkSession, vocab: pa.Table, n_merges: int, batch_m: int
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """The Spark rounds over the collected (word, cnt, seq) table: the same
    weighted pair counts, (count DESC, a ASC, b ASC) order — Python orders
    str by code point, which is Spark's UTF-8 byte order — batches and
    literal replaces.  The final vocab is a local relation (no job to
    create or collect)."""
    cnts = vocab.column("cnt").to_pylist()
    seqs = vocab.column("seq").to_pylist()
    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges:
        want = min(batch_m, n_merges - len(merges))
        counts: Counter = Counter()
        for seq, c in zip(seqs, cnts):
            syms = seq.strip("|").split("||")
            for pair in zip(syms, syms[1:]):
                counts[pair] += c
        top = heapq.nsmallest(
            _HEADROOM * want, counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        batch = _pick_batch([(a, b, c) for (a, b), c in top], want)
        if not batch:
            break
        for a, b, _ in batch:
            seqs = [s.replace(f"|{a}||{b}|", f"|{a}{b}|") for s in seqs]
        merges.extend(batch)
    return merges, spark.createDataFrame(
        pa.table({"word": vocab.column("word"), "cnt": vocab.column("cnt"),
                  "seq": pa.array(seqs, pa.string())})
    )


def bpe_apply(word_col: Column, merges: list[tuple[str, str]]) -> Column:
    """array<string> of BPE tokens for one normalized WORD column: chars
    wrapped as '|c|' and joined, then the fitted merges applied in order
    as chained literal replaces (see _word_vocab for why the wrapping
    makes this the exact Sennrich merge pass) — a pure projection
    (tokenizing the corpus with a learned vocab is map-only at any
    scale)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word_col)),
        lambda i: F.substring(word_col, i, F.lit(1)),
    )
    seq = F.concat(F.lit("|"), F.array_join(chars, "||"), F.lit("|"))
    for m in merges:
        a, b = m[0], m[1]
        seq = F.replace(seq, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
    return F.split(F.btrim(seq, F.lit("|")), "\\|\\|")


def fit_bpe_sql(
    n_merges: int = 8,
    table: str = "documents",
) -> str:
    """DuckDB oracle replaying the ENTIRE BPE fit: chained CTE rounds of
    pair-count -> argmax -> literal replace, emitting the learned merge
    table (round, a, b, c).  Words come from :func:`duckdb_tokens` over
    `table`.text."""
    sy = "string_split(trim(seq, '|'), '||')"
    pair_tpl = (
        "SELECT p.a, p.b, CAST(sum(cnt) AS BIGINT) AS c FROM ("
        "  SELECT cnt, unnest(list_transform("
        f"    generate_series(1, length({sy}) - 1),"
        f"    i -> struct_pack(a := {sy}[i],"
        f"                     b := {sy}[i+1]))) AS p"
        f"  FROM {{v}} WHERE length({sy}) >= 2"
        ") GROUP BY p.a, p.b"
    )
    ctes = [
        f"w AS MATERIALIZED (SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt "
        f"FROM (SELECT unnest({duckdb_tokens('text')}) AS t FROM {table}) GROUP BY t)",
        "v0 AS MATERIALIZED (SELECT word, cnt, '|' || "
        "array_to_string(regexp_extract_all(word, '.'), '||') || '|' AS seq "
        "FROM w)",
    ]
    for r in range(n_merges):
        ctes.append(f"p{r} AS MATERIALIZED ({pair_tpl.format(v=f'v{r}')})")
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT a, b, c FROM p{r} "
            f"ORDER BY c DESC, a ASC, b ASC LIMIT 1)"
        )
        # coalesce('') guards pair exhaustion (n_merges > available pairs):
        # an empty b{r} would otherwise make the scalar subqueries NULL and
        # replace() NULL-propagate the whole seq; with '' the search pattern
        # degenerates to '||||', which cannot occur in a wrapped-symbol seq
        # (symbols are never empty), so later rounds pass seq through —
        # matching the Spark fit's early break exactly.
        ctes.append(
            f"v{r + 1} AS MATERIALIZED (SELECT word, cnt, "
            f"replace(seq, '|' || coalesce((SELECT a FROM b{r}), '') || '||' || "
            f"coalesce((SELECT b FROM b{r}), '') || '|', "
            f"'|' || coalesce((SELECT a FROM b{r}), '') || "
            f"coalesce((SELECT b FROM b{r}), '') || '|') AS seq FROM v{r})"
        )
    union = " UNION ALL ".join(
        f"SELECT {r} AS round, a, b, c FROM b{r}" for r in range(n_merges)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT CAST(round AS INT) AS round, a, b, c FROM ({union}) "
        "ORDER BY round"
    )
