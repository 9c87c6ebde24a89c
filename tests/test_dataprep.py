"""Dedup / similarity / textprep operator semantics."""

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from inferdb_spark.operators import dedup as DD
from inferdb_spark.operators import similarity as SIM
from inferdb_spark.operators import textprep as TP


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
        (3, "completely different content about spark distributed query engines and parquet"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(spark):
    d = _docs(spark)
    out = DD.exact_dedup(d, ["text"], "doc_id")
    ids = sorted(r.doc_id for r in out.collect())
    assert 0 in ids and 1 not in ids  # dup dropped, keeper kept
    assert 2 in ids and 3 in ids and 4 in ids


def test_minhash_lsh_finds_near_dups_not_distinct(spark):
    d = _docs(spark).filter("doc_id < 4")
    pairs = {
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs(
            d, "doc_id", "text", n_hashes=32, bands=8, shingle_n=4
        ).collect()
    }
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup
    assert all(3 not in p for p in pairs)  # distinct doc never pairs


def test_ngram_jaccard_values(spark):
    d = _docs(spark)
    pairs = spark.createDataFrame([(0, 1), (0, 3)], "id_a long, id_b long")
    j = {(r.id_a, r.id_b): r.jaccard for r in DD.ngram_jaccard(d, pairs, "doc_id", "text").collect()}
    assert j[(0, 1)] == 1.0
    assert j[(0, 3)] < 0.2


def test_simhash_near_dup_distance(spark):
    d = _docs(spark)
    fp = {
        r.doc_id: r.fp
        for r in d.select(
            "doc_id", F.expr(DD.simhash_sql("`text`", 32)).alias("fp")
        ).collect()
    }
    assert fp[0] == fp[1]
    h02 = bin(fp[0] ^ fp[2]).count("1")
    h03 = bin(fp[0] ^ fp[3]).count("1")
    assert h02 < h03  # near dup closer than distinct doc


def test_simhash_near_pairs(spark):
    d = _docs(spark).filter("doc_id < 4")
    out = {
        (r.id_a, r.id_b): r.hamming
        for r in DD.simhash_near_pairs(
            d, "doc_id", "text", n_bits=48, max_hamming=6, band_bits=12
        ).collect()
    }
    assert (0, 1) in out and out[(0, 1)] == 0


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = SIM.cosine_topk(df, "embedding", [1.0, 0.0, 0.0], k=2).collect()
    assert [r.vec_id for r in top] == [0, 1]
    assert abs(top[0].cosine - 1.0) < 1e-9


def test_lsh_bucket_and_topk_agree_on_strong_match(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = SIM.make_hyperplanes(6, 8)
    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    approx = SIM.lsh_cosine_topk(df, "embedding", q, planes, k=1).collect()
    assert approx and approx[0].vec_id == 0  # the query's own bucket contains it


def test_embedding_near_pairs(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.999, 0.001]),
        (2, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = SIM.make_hyperplanes(4, 2)
    pairs = SIM.embedding_near_pairs(df, "embedding", planes, threshold=0.99).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found
    assert all(2 not in p for p in found)


def test_detect_language(spark):
    rows = [
        (0, "the cat and the dog is in the house for it was that"),
        (1, "der hund und die katze ist nicht auf der brücke zu und"),
        (2, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.lang for r in df.select("doc_id", TP.detect_language("`text`").alias("lang")).collect()}
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "und"


def test_quality_score_ranges(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog and runs to the forest with great speed today"),
        (1, "!!!! ???? ,,,, ;;;;"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.quality_score for r in TP.quality_score(df).collect()}
    assert 0.0 <= out[1] < out[0] <= 1.0


def test_rolling_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fp for r in df.select("doc_id", TP.rolling_fingerprint("`text`").alias("fp")).collect()}
    assert fps[0] == fps[2] != fps[1]


def test_dedup_corpus_end_to_end(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (0, base + " today"),
        (1, base + " today"),          # exact dup of 0 -> dropped
        (2, base + " tonight"),        # near dup of 0 -> dropped (J >= 0.85)
        (3, "totally different text about distributed query engines and columnar storage"),
        (10, base + " today"),         # exact dup, higher id -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.dedup_corpus(df, "doc_id", "text", jaccard_threshold=0.8,
                          n_hashes=32, bands=8)
    ids = sorted(r.doc_id for r in out.collect())
    assert 0 in ids and 3 in ids
    assert 1 not in ids and 10 not in ids and 2 not in ids


def test_binary_auc_exact(spark):
    # hand-checkable: scores [1,2,3,4], labels [0,0,1,1] -> AUC 1.0;
    # add a tie straddling classes -> tie-corrected value
    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1)], "s int, y int"
    )
    from inferdb_spark.operators.metrics import binary_auc

    r = binary_auc(df, "s", "y").collect()[0]
    assert (r["auc"], r["n_pos"], r["n_neg"]) == (1.0, 2, 2)

    df2 = spark.createDataFrame(
        [(1, 0), (2, 0), (2, 1), (3, 1)], "s int, y int"
    )
    r2 = binary_auc(df2, "s", "y").collect()[0]
    # pairs: (1,2+):win, (1,3):win, (2-,2+):tie 0.5, (2-,3):win -> 3.5/4
    assert r2["auc"] == 0.875


def test_build_vocab_rank_determinism(spark):
    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a c d")], "doc_id int, text string"
    )
    from inferdb_spark.operators.textprep import build_vocab

    vocab = {r["term"]: r["term_id"] for r in build_vocab(df, "text").collect()}
    # counts: a=3, b=3, c=2, d=1 -> ties (a,b) break alphabetically
    assert vocab == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_hash_features_signed_cancellation(spark):
    from inferdb_spark.functions.hashing import h52
    from inferdb_spark.operators.textprep import hash_features

    df = spark.createDataFrame([(1, "x x y")], "doc_id int, text string")
    coo = {(r["bucket"]): r["val"] for r in hash_features(df, dim=8).collect()}
    hx, hy = [
        r[0] for r in spark.createDataFrame([("x",), ("y",)], "t string")
        .select(h52(F.col("t"))).collect()
    ]
    sx = 1 if (hx // 8) % 2 == 0 else -1
    sy = 1 if (hy // 8) % 2 == 0 else -1
    expect = {}
    expect[hx % 8] = expect.get(hx % 8, 0) + 2 * sx
    expect[hy % 8] = expect.get(hy % 8, 0) + sy
    expect = {b: v for b, v in expect.items() if v != 0}
    assert coo == expect


def test_bigram_lm_scores_fluency(spark):
    """Docs made of corpus-frequent bigrams must outscore shuffled-token
    gibberish (per-bigram average, in micro-nats)."""
    from inferdb_spark.operators.textprep import bigram_counts, bigram_logprob_score

    fluent = "the cat sat on the mat and the cat ran"
    corpus = [(i, fluent) for i in range(10)] + [(99, "mat the on cat sat ran the and")]
    df = spark.createDataFrame(corpus, "doc_id int, text string")
    bg, ug, v = bigram_counts(df)
    scores = {
        r["doc_id"]: r["score_unats"] / r["n_bigrams"]
        for r in bigram_logprob_score(df, bg, ug, v).collect()
    }
    assert scores[0] > scores[99]


def test_bigram_counts_empty_and_single_token(spark):
    from inferdb_spark.operators.textprep import bigram_counts

    df = spark.createDataFrame(
        [(1, ""), (2, "single"), (3, "two words")], "doc_id int, text string"
    )
    bg, ug, v = bigram_counts(df)
    assert bg.count() == 1 and v == 3  # only doc 3 yields a bigram


def test_incremental_lsh_matches_full_rebuild(spark):
    """Incremental candidates (new batch probed against the persisted band
    relation) must equal the full-corpus LSH pairs restricted to pairs
    touching the new batch — the invariant that lets a 100 TB corpus
    dedup new data without re-hashing history."""
    from inferdb_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    kw = dict(n_hashes=16, bands=4, shingle_n=4)

    full = {
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs(docs, "doc_id", "text", **kw).collect()
    }
    new_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    expected = {p for p in full if p[0] in new_ids or p[1] in new_ids}

    corpus_bands = DD.lsh_band_relation(corpus, "doc_id", "text", **kw)
    new_bands = DD.lsh_band_relation(batch, "doc_id", "text", **kw)
    got = {
        (r.id_a, r.id_b)
        for r in DD.incremental_lsh_candidates(
            new_bands, corpus_bands, "doc_id"
        ).collect()
    }
    assert got == expected
    assert expected, "fixture must produce at least one cross/new pair"


def test_chunk_documents_boundaries(spark):
    """Window boundaries: full coverage, exact overlap, empty doc kept."""
    rows = [(1, "abcdefghij"), (2, ""), (3, "xyz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_id, r.chunk_id): (r.start, r.chunk)
        for r in TP.chunk_documents(df, size=4, stride=3).collect()
    }
    assert out[(1, 0)] == (1, "abcd")
    assert out[(1, 1)] == (4, "defg")
    assert out[(1, 2)] == (7, "ghij")
    assert out[(1, 3)] == (10, "j")
    assert out[(2, 0)] == (1, "")
    assert out[(3, 0)] == (1, "xyz")
    # reconstruction: stride-prefix concatenation re-yields the document
    doc1 = "".join(
        chunk[:3] if (1, i + 1) in out else chunk
        for (d, i), (_, chunk) in sorted(out.items())
        if d == 1
    )
    assert doc1 == "abcdefghij"


def test_repetition_features_flags_loops(spark):
    """A looping document must score high dup_bigram_frac; natural text low."""
    rows = [
        (1, "spam ham " * 30),
        (2, "the quick brown fox jumps over a lazy dog near the river bank"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TP.repetition_features(df).collect()}
    assert out[1].dup_bigram_frac > 0.9 and out[1].distinct_ratio < 0.1
    assert out[2].dup_bigram_frac < 0.1 and out[2].distinct_ratio > 0.9


def _py_tokens(text):
    """normalize + split, as functions.text.tokens_sql defines them."""
    norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip(" ")
    return norm, (norm.split(" ") if norm else [])


def _py_shingles(text, n, mode):
    norm, toks = _py_tokens(text)
    if mode == "char":
        grams = [norm[i : i + n] for i in range(len(norm) - n + 1)]
    else:
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    return list(dict.fromkeys(grams))


def _py_h52(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:13], 16)


def _py_minhash(hashes, n_hashes, seed):
    from inferdb_spark.functions.hashing import MERSENNE_P, perm_params

    return [
        min([(a * x + b) % MERSENNE_P for x in hashes], default=MERSENNE_P)
        for a, b in perm_params(n_hashes, seed)
    ]


def _fingerprint_docs(spark):
    extra = [
        (5, "Hello, WORLD!!  hello   world?"),  # case, punctuation, spaces
        (6, "ab!"),  # shorter than one char 4-gram
        (7, "solo"),  # shorter than one word 2-gram
        (8, "?!, ..."),  # punctuation only: blank after normalize
    ]
    return _docs(spark).unionByName(
        spark.createDataFrame(extra, "doc_id long, text string")
    )


def test_fingerprint_sql_matches_hashlib_reference(spark):
    """minhash_signature_sql (md5; char and word shingles) and simhash_sql
    (24 and 48 bits) against a hashlib/Python reference, row by row.  A
    document with no shingle (empty, too short, punctuation only) gets
    MERSENNE_P in every signature slot."""
    from inferdb_spark.functions.hashing import MERSENNE_P

    d = _fingerprint_docs(spark)
    texts = {r.doc_id: r.text for r in d.collect()}
    for mode, sn in (("char", 4), ("word", 2)):
        got = {
            r.doc_id: list(r.sig)
            for r in d.select(
                "doc_id",
                F.expr(
                    DD.minhash_signature_sql("`text`", 16, sn, mode, 42, "md5")
                ).alias("sig"),
            ).collect()
        }
        for i, t in texts.items():
            hs = [_py_h52(g) % MERSENNE_P for g in _py_shingles(t, sn, mode)]
            assert got[i] == _py_minhash(hs, 16, 42), (mode, i)
        no_shingle = {4, 6, 8} | ({7} if mode == "word" else set())
        for i in no_shingle:
            assert got[i] == [MERSENNE_P] * 16, (mode, i)
    for n_bits in (24, 48):
        got = {
            r.doc_id: r.fp
            for r in d.select(
                "doc_id", F.expr(DD.simhash_sql("`text`", n_bits)).alias("fp")
            ).collect()
        }
        for i, t in texts.items():
            hs = [_py_h52(w) for w in _py_tokens(t)[1]]
            votes = [
                sum(1 if (h >> j) & 1 else -1 for h in hs) for j in range(n_bits)
            ]
            assert got[i] == sum(2**j for j, v in enumerate(votes) if v > 0)


def test_minhash_xxhash64_matches_spark_shingle_hashes(spark):
    """The xxhash64 signature mode against Spark's own
    pmod(xxhash64(s), P) over the Python-enumerated shingles."""
    from inferdb_spark.functions.hashing import MERSENNE_P

    d = _fingerprint_docs(spark)
    texts = {r.doc_id: r.text for r in d.collect()}
    for mode, sn in (("char", 4), ("word", 2)):
        shingles = {i: _py_shingles(t, sn, mode) for i, t in texts.items()}
        grams = sorted({g for gs in shingles.values() for g in gs})
        xh = {
            r.s: r.h
            for r in spark.createDataFrame([(g,) for g in grams], "s string")
            .select("s", F.expr(f"pmod(xxhash64(s), {MERSENNE_P})").alias("h"))
            .collect()
        }
        got = {
            r.doc_id: list(r.sig)
            for r in d.select(
                "doc_id",
                F.expr(
                    DD.minhash_signature_sql(
                        "`text`", 16, sn, mode, 42, "xxhash64"
                    )
                ).alias("sig"),
            ).collect()
        }
        for i, gs in shingles.items():
            assert got[i] == _py_minhash([xh[g] for g in gs], 16, 42), (mode, i)


def test_simhash_sql_rejects_n_bits_above_52(spark):
    """Token hashes are 52-bit: a higher fingerprint bit is always 0, and
    a simhash_near_pairs band lying wholly above bit 51 would make every
    pair a candidate."""
    for n_bits in (0, 53, 56, 64):
        with pytest.raises(ValueError, match="n_bits"):
            DD.simhash_sql("`text`", n_bits)
    with pytest.raises(ValueError, match="n_bits"):
        DD.simhash_near_pairs(
            _docs(spark), "doc_id", "text", n_bits=64, band_bits=8
        )
    assert DD.simhash_sql("`text`", 52)


def test_lsh_band_relation_rejects_uneven_bands(spark):
    """n_hashes must split evenly into bands — checked with a ValueError,
    not an assert that vanishes under python -O."""
    with pytest.raises(ValueError, match="multiple of bands"):
        DD.lsh_band_relation(_docs(spark), "doc_id", "text", n_hashes=30, bands=8)
