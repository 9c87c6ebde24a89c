"""Round-3 curation operators: temperature mixing, hashed linear text
scoring, semantic dedup — property tests beyond the oracle gates."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from inferdb_spark.operators.textprep import (
    hashed_linear_text_score,
    temperature_mixing,
    temperature_mixing_rates,
)


@pytest.fixture(scope="module")
def skewed_docs(spark):
    rows = []
    # source sizes 1000 / 200 / 50: heavy skew for temperature flattening
    for s, n in (("big", 1000), ("mid", 200), ("small", 50)):
        for i in range(n):
            rows.append((len(rows), s, f"doc {s} {i} lorem ipsum dolor"))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "source", "text"])
    ).localCheckpoint()


def test_temperature_rates_flatten_skew(skewed_docs):
    """alpha=0.5 must give the small source a HIGHER keep rate than the
    big one (rate ∝ n^(alpha-1)), and alpha=1.0 must be uniform."""
    r = {
        row["source"]: row["rate_permille"]
        for row in temperature_mixing_rates(
            skewed_docs, "source", 0.5, 200
        ).collect()
    }
    assert r["small"] > r["mid"] > r["big"]
    assert all(v < 1000 for v in r.values())  # uncapped regime
    r1 = {
        row["source"]: row["rate_permille"]
        for row in temperature_mixing_rates(
            skewed_docs, "source", 1.0, 500
        ).collect()
    }
    # alpha=1: rate = target for every source (up to integer floor)
    assert len({*r1.values()}) == 1
    assert abs(next(iter(r1.values())) - 500) <= 1


def test_temperature_mixing_deterministic(skewed_docs):
    a = sorted(
        r["doc_id"] for r in temperature_mixing(skewed_docs).select("doc_id").collect()
    )
    b = sorted(
        r["doc_id"]
        for r in temperature_mixing(
            skewed_docs.repartition(7)
        ).select("doc_id").collect()
    )
    assert a == b and len(a) > 0


def test_hashed_linear_score_matches_numpy(spark):
    """Spark margin fold == explicit numpy scoring through the identical
    hash/sign/bucket pipeline."""
    from inferdb_spark.functions.hashing import h52

    dim = 16
    w = [((j * 5) % 11 - 5) / 10.0 for j in range(dim)]
    wq = [int(round(x * 1_000_000)) for x in w]
    texts = ["alpha beta gamma", "beta beta", "", "Delta! epsilon?"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    out = {
        r["doc_id"]: (r["margin_q"], r["score"])
        for r in hashed_linear_text_score(
            df, "doc_id", "text", w, 0.1, dim
        ).collect()
    }
    # recompute hashes via the SAME Spark h52 (portable md5-prefix hash)
    toks = {
        0: ["alpha", "beta", "gamma"],
        1: ["beta", "beta"],
        2: [],
        3: ["delta", "epsilon"],
    }
    uniq = sorted({t for ts in toks.values() for t in ts})
    hdf = spark.createDataFrame(pd.DataFrame({"t": uniq})).select(
        "t", h52(F.col("t")).alias("h")
    )
    hmap = {r["t"]: r["h"] for r in hdf.collect()}
    for i, ts in toks.items():
        m = 0
        for t in ts:
            h = hmap[t]
            sign = 1 if (h // dim) % 2 == 0 else -1
            m += sign * wq[h % dim]
        assert out[i][0] == m
        want = round(1.0 / (1.0 + math.exp(-(m / 1e6 + 0.1))), 6)
        assert out[i][1] == pytest.approx(want, abs=1e-9)


def test_semantic_dedup_drops_near_duplicates(spark):
    """Two clusters of near-identical vectors + one isolated vector: each
    duplicate group keeps exactly its lowest-(ccos_q, id) member; the
    isolated vector survives."""
    from inferdb_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(9)
    c0 = np.array([1.0, 0.0, 0.0, 0.0])
    c1 = np.array([0.0, 1.0, 0.0, 0.0])
    rows = []
    for i in range(4):  # near-dups of c0 direction
        v = c0 + rng.normal(0, 0.01, 4)
        rows.append((i, [float(x) for x in v]))
    for i in range(4, 7):  # near-dups of c1 direction
        v = c1 + rng.normal(0, 0.01, 4)
        rows.append((i, [float(x) for x in v]))
    rows.append((7, [0.0, 0.5, 0.0, 0.8]))  # same cluster as c1 but far
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = semantic_dedup(
        df,
        "embedding",
        [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
        threshold=0.95,
    )
    kept = sorted(r["vec_id"] for r in out.collect())
    # one survivor per dup group + the far vector
    assert len(kept) == 3
    assert 7 in kept
    assert len([k for k in kept if k < 4]) == 1
    assert len([k for k in kept if 4 <= k < 7]) == 1


def _bpe_branches(monkeypatch):
    """Both regimes of fit_bpe_merges, in turn: the rounds on the driver,
    then (symbol cap at 0) the Spark rounds.  Yields the branch's name."""
    from inferdb_spark.operators import bpe_train

    yield "driver"
    monkeypatch.setattr(bpe_train, "_DRIVER_SYMBOL_CAP", 0)
    yield "spark"


def test_bpe_fit_and_apply(spark, monkeypatch):
    """BPE trainer on a tiny corpus with a known dominant pair; apply
    must reproduce training-time segmentation (fit/apply consistency),
    on both branches."""
    import pandas as pd

    from inferdb_spark.operators.bpe_train import bpe_apply, fit_bpe_merges

    # 'thin' breaks the t-h vs h-e tie: t+h has weight 8 (the=3, then=2,
    # there, other, thin), h+e only 7
    corpus = ["the then there thin", "the other", "then the"]
    df = spark.createDataFrame(pd.DataFrame({"text": corpus}))
    for branch in _bpe_branches(monkeypatch):
        merges, vocab = fit_bpe_merges(df, "text", n_merges=3)
        assert (merges[0][0], merges[0][1]) == ("t", "h"), branch
        assert ("th", "e") in [(a, b) for a, b, _ in merges], branch
        # apply with the learned merges reproduces the final vocab's seqs
        lits = [(a, b) for a, b, _ in merges]
        got = {
            r["word"]: r["seg"]
            for r in vocab.select(
                "word", F.array_join(bpe_apply(F.col("word"), lits), " ").alias("seg")
            ).collect()
        }
        want = {
            r["word"]: " ".join(r["seq"].strip("|").split("||"))
            for r in vocab.collect()
        }
        assert got == want, branch


def test_bpe_merge_is_left_to_right_greedy(spark):
    """'aaa' under merge (a,a) -> ['aa','a'], the non-overlapping
    left-to-right rule both engines share."""
    from inferdb_spark.operators.bpe_train import bpe_apply

    row = spark.range(1).select(
        bpe_apply(F.lit("aaa"), [("a", "a")]).alias("t")
    ).first()
    assert row["t"] == ["aa", "a"]


def test_sequence_packing_invariants(spark):
    """Window fill + token conservation: every window except each group's
    last holds exactly W tokens; each doc's spans cover it exactly."""
    import pandas as pd

    from inferdb_spark.operators.textprep import sequence_packing

    rng = np.random.default_rng(3)
    rows = [
        (i, f"s{i % 3}", int(rng.integers(1, 40))) for i in range(200)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "source", "nt"])
    )
    out = sequence_packing(df, "doc_id", "nt", "source", 64).toPandas()
    # token conservation per doc
    per_doc = out.groupby("id")["n_toks"].sum().to_dict()
    for i, _, nt in rows:
        assert per_doc[i] == nt
    # full windows except the last per group
    fill = out.groupby(["grp", "chunk_id"])["n_toks"].sum()
    for grp in {r[1] for r in rows}:
        g = fill[grp]
        assert (g.iloc[:-1] == 64).all(), (grp, g)
        assert 0 < g.iloc[-1] <= 64
    # per-doc spans are contiguous: offsets sorted by chunk tile the doc
    for i in out["id"].unique():
        spans = out[out["id"] == i].sort_values("chunk_id")
        pos = 0
        for _, r in spans.iterrows():
            assert r["tok_offset"] == pos
            pos += r["n_toks"]


def test_k_anonymity_row_level(spark):
    """Row-level equivalence of the suppression semi-join: exactly the
    rows of >= k groups survive."""
    import pandas as pd

    from inferdb_spark.operators.validate import k_anonymity_suppress

    rows = [(i, "a" if i < 10 else ("b" if i < 13 else "c")) for i in range(15)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "q"]))
    out = k_anonymity_suppress(df, ["q"], k=5)
    got = sorted(r["id"] for r in out.collect())
    assert got == list(range(10))  # only group 'a' (n=10) survives k=5


def test_bpe_repeated_symbol_runs(spark):
    """'aaaa' -> [aa, aa] and 'aaa' -> [aa, a]: the wrapped-symbol
    representation gives the true Sennrich non-overlapping merge pass
    (the space-delimited form under-merged runs)."""
    from inferdb_spark.operators.bpe_train import bpe_apply

    rows = spark.createDataFrame(
        [("aaaa",), ("aaa",), ("aa",), ("a",)], "w: string"
    ).select("w", bpe_apply(F.col("w"), [("a", "a")]).alias("t")).collect()
    got = {r["w"]: r["t"] for r in rows}
    assert got["aaaa"] == ["aa", "aa"]
    assert got["aaa"] == ["aa", "a"]
    assert got["aa"] == ["aa"]
    assert got["a"] == ["a"]


def test_k_anonymity_null_quasi_group(spark):
    """NULL is a quasi-identifier VALUE: a >= k NULL group must survive
    (null-safe semi join), a sub-k NULL group must be suppressed."""
    import pandas as pd

    from inferdb_spark.operators.validate import k_anonymity_suppress

    rows = [(i, None if i < 7 else "x") for i in range(10)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["id", "q"]).astype({"q": "object"})
    )
    out = k_anonymity_suppress(df, ["q"], k=5)
    kept = sorted(r["id"] for r in out.collect())
    assert kept == list(range(7))  # NULL group n=7 kept; 'x' n=3 dropped


def test_dsir_prefers_target_like_docs(spark):
    """Docs sharing the target corpus's vocabulary must outscore docs
    from a disjoint vocabulary."""
    import pandas as pd

    from inferdb_spark.operators.textprep import dsir_select

    tgt = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(100, 110),
                      "text": ["physics quantum energy field"] * 10})
    )
    raw_rows = []
    for i in range(20):
        raw_rows.append((i, "quantum field theory energy"))      # target-like
    for i in range(20, 40):
        raw_rows.append((i, "recipe butter flour sugar oven"))    # off-domain
    raw = spark.createDataFrame(
        pd.DataFrame(raw_rows, columns=["doc_id", "text"])
    )
    top = dsir_select(tgt, raw, "doc_id", "text", dim=64, k=20)
    ids = {r["doc_id"] for r in top.collect()}
    assert ids == set(range(20))


def test_temperature_rates_no_overflow_at_planetary_counts(spark):
    """DECIMAL(38,0) widening: rates stay exact when per-source counts are
    ~2^40 (the old BIGINT numerator wrapped past ~5M docs/source).  Counts
    are powers of 4 with alpha=0.5, so n^alpha is an exact integer and the
    expected value is pure Python bigint arithmetic."""
    import pandas as pd

    from inferdb_spark.operators.textprep import (
        temperature_mixing_rates_from_counts,
    )

    counts = {"a": 4**20, "b": 4**19, "c": 4**18}  # 1.1e12 .. 6.9e10
    df = spark.createDataFrame(
        pd.DataFrame(
            {"source": list(counts), "n_s": list(counts.values())}
        )
    )
    got = {
        r["source"]: r["rate_permille"]
        for r in temperature_mixing_rates_from_counts(df, 0.5, 500).collect()
    }
    wq = {s: int(math.isqrt(n)) * 1_000_000 for s, n in counts.items()}
    t_rows, w_total = sum(counts.values()), sum(wq.values())
    exp = {
        s: min(1000, (500 * t_rows * wq[s]) // (w_total * counts[s]))
        for s in counts
    }
    assert got == exp
    # the numerator really is past 2^63 — the regression this test pins
    assert 500 * t_rows * max(wq.values()) > 2**63


def test_bpe_sql_oracle_pair_exhaustion(spark, monkeypatch):
    """fit_bpe_sql with n_merges > available pairs must emit exactly the
    merges the fit performs on either branch (early break) and not
    NULL-propagate the later rounds' replaces."""
    import duckdb
    import pandas as pd

    from inferdb_spark.operators.bpe_train import fit_bpe_merges, fit_bpe_sql

    pdf = pd.DataFrame({"doc_id": [0, 1], "text": ["ab ab", "ab cd"]})
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)
    got = con.execute(fit_bpe_sql(10, "documents")).fetchall()
    for branch in _bpe_branches(monkeypatch):
        merges, _ = fit_bpe_merges(sdf, "text", n_merges=10)
        assert 0 < len(merges) < 10, branch  # genuinely exhausts
        exp = [(i, a, b, c) for i, (a, b, c) in enumerate(merges)]
        assert [tuple(r) for r in got] == exp, branch


def test_semantic_dedup_leaves_no_cache_behind(spark):
    """Cache hygiene: the operator must not leave a relation registered in
    the CacheManager after it returns (long-lived pipelines would leak
    executor memory)."""
    import pandas as pd

    from inferdb_spark.operators.similarity import semantic_dedup

    spark.catalog.clearCache()
    vecs = [[float((i * 7 + j) % 5 - 2) for j in range(4)] for i in range(12)]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(12), "embedding": vecs})
    )
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    out = semantic_dedup(df, "embedding", cents, threshold=0.99)
    out.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _py_bpe(word_counts, n_merges, batch_m):
    """Pure-Python twin of fit_bpe_merges incl. the batched variant:
    wrapped-symbol string form, (count desc, a, b) ordering, greedy
    symbol-disjoint batch selection with the concat reservation."""
    vocab = {
        "|" + "||".join(w) + "|": c for w, c in word_counts.items()
    }
    merges, done = [], 0
    while done < n_merges:
        want = min(batch_m, n_merges - done)
        counts = {}
        for seq, c in vocab.items():
            syms = seq.strip("|").split("||")
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + c
                )
        cand = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        cand = cand[: max(4 * want, want)]
        if not cand:
            break
        used, batch = set(), []
        for (a, b), c in cand:
            if a in used or b in used:
                continue
            batch.append((a, b, c))
            used.update((a, b, a + b))
            if len(batch) == want:
                break
        new_vocab = {}
        for seq, c in vocab.items():
            for a, b, _ in batch:
                seq = seq.replace(f"|{a}||{b}|", f"|{a}{b}|")
            new_vocab[seq] = new_vocab.get(seq, 0) + c
        vocab = new_vocab
        merges.extend(batch)
        done += len(batch)
    return merges


def _bpe_fixture_counts():
    texts = ["the other brother", "there the other", "than the then there",
             "other brother bother", "the the the than"]
    wc = {}
    for t in texts:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    return texts, wc


def test_bpe_batched_matches_python_twin(spark, monkeypatch):
    """batch_m in {1, 3}: the fit must equal the pure-Python twin
    exactly (same merges, same order, same counts) on both branches;
    batch_m=1 is sequential Sennrich BPE."""
    import pandas as pd

    from inferdb_spark.operators.bpe_train import fit_bpe_merges

    texts, wc = _bpe_fixture_counts()
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    for branch in _bpe_branches(monkeypatch):
        for m in (1, 3):
            got, _ = fit_bpe_merges(sdf, "text", n_merges=7, batch_m=m)
            assert got == _py_bpe(wc, 7, m), f"{branch} batch_m={m}"


def test_bpe_vocab_relation_same_on_both_branches(spark, monkeypatch):
    """The final vocab relation (word, cnt, seq) is the same rows and
    types whichever regime ran the rounds."""
    import pandas as pd

    from inferdb_spark.operators.bpe_train import fit_bpe_merges

    texts, _ = _bpe_fixture_counts()
    sdf = spark.createDataFrame(pd.DataFrame({"text": texts}))
    driver, loop = (
        fit_bpe_merges(sdf, "text", n_merges=6, batch_m=2)
        for _ in _bpe_branches(monkeypatch)
    )
    assert driver[0] == loop[0]
    assert driver[1].dtypes == loop[1].dtypes
    assert sorted(driver[1].collect()) == sorted(loop[1].collect())


def test_bpe_driver_job_count_is_constant(spark, job_count):
    """Under the symbol cap the job count does not grow with the merge
    rounds (the Spark rounds take about two jobs each)."""
    import pandas as pd

    from inferdb_spark.operators.bpe_train import fit_bpe_merges

    texts, _ = _bpe_fixture_counts()
    sdf = spark.createDataFrame(pd.DataFrame({"text": texts}))
    n = {m: job_count(lambda: fit_bpe_merges(sdf, "text", n_merges=m)) for m in (2, 8)}
    assert n[8] == n[2] <= 3


def test_bpe_batched_first_round_disjoint(spark):
    """Merges learned with batch_m=4 start with the sequential winner and
    the first batch is pairwise symbol-disjoint."""
    import pandas as pd

    from inferdb_spark.operators.bpe_train import fit_bpe_merges

    texts, _ = _bpe_fixture_counts()
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    seq1, _ = fit_bpe_merges(sdf, "text", n_merges=1, batch_m=1)
    batched, _ = fit_bpe_merges(sdf, "text", n_merges=4, batch_m=4)
    assert batched[0] == seq1[0]
    used = set()
    for a, b, _c in batched:  # one round: all four disjoint
        assert a not in used and b not in used
        used.update((a, b, a + b))


def test_substring_dedup_removes_later_occurrences(spark):
    """k=3: a repeated 3-token window is excised from the LATER doc only;
    non-duplicated text is untouched; short docs pass through."""
    import pandas as pd

    from inferdb_spark.operators.textprep import substring_dedup

    docs = [
        (0, "alpha beta gamma delta"),            # first occurrence, kept
        (1, "x alpha beta gamma y"),              # window repeats -> excised
        (2, "unique words only here"),            # untouched
        (3, "tiny doc"),                          # < k tokens, passthrough
        (4, "alpha beta gamma"),                  # exact repeat, all removed
    ]
    out = {
        r["doc_id"]: r
        for r in substring_dedup(
            spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"])),
            k=3,
        ).collect()
    }
    assert out[0]["text_clean"] == "alpha beta gamma delta"
    assert out[0]["n_removed"] == 0
    assert out[1]["text_clean"] == "x y" and out[1]["n_removed"] == 3
    assert out[2]["n_removed"] == 0
    assert out[3]["text_clean"] == "tiny doc" and out[3]["n_removed"] == 0
    assert out[4]["text_clean"] == "" and out[4]["n_removed"] == 3


def test_stupid_backoff_levels_and_python_twin(spark):
    """All three backoff levels fire and the score matches a pure-Python
    replay (incl. add-one OOV floor)."""
    import math

    import pandas as pd

    from inferdb_spark.operators.textprep import (
        QLN_BACKOFF,
        ngram_lm_counts,
        stupid_backoff_score,
    )

    train = [
        "the cat sat on the mat",
        "the cat ate the fish",
        "a dog sat on the rug",
    ]
    test = [
        # trigram hit (lvl3), bigram backoff (lvl2), unigram + OOV (lvl1)
        (0, "the cat sat on a zebra"),
        (1, "dog ate the fish zebra"),
    ]
    tdf = spark.createDataFrame(pd.DataFrame({"doc_id": range(3), "text": train}))
    sdf = spark.createDataFrame(pd.DataFrame(test, columns=["doc_id", "text"]))
    tri, big, uni, n_tok, vocab = ngram_lm_counts(tdf)
    got = {
        r["doc_id"]: r
        for r in stupid_backoff_score(sdf, tri, big, uni, n_tok, vocab).collect()
    }

    # python twin
    def toks(s):
        return s.split(" ")

    c3, c2, c1 = {}, {}, {}
    n = 0
    for t in train:
        w = toks(t)
        n += len(w)
        for i in range(len(w)):
            c1[w[i]] = c1.get(w[i], 0) + 1
            if i + 1 < len(w):
                c2[(w[i], w[i + 1])] = c2.get((w[i], w[i + 1]), 0) + 1
            if i + 2 < len(w):
                c3[(w[i], w[i + 1], w[i + 2])] = c3.get((w[i], w[i + 1], w[i + 2]), 0) + 1
    v = len(c1)
    q = lambda a, b: round(math.log(a / b) * 1e6)
    for doc_id, text in test:
        w = toks(text)
        lvls = {1: 0, 2: 0, 3: 0}
        s = 0
        for i in range(len(w) - 2):
            g = (w[i], w[i + 1], w[i + 2])
            if g in c3:
                lvls[3] += 1
                s += q(c3[g], c2[(g[0], g[1])])
            elif (g[1], g[2]) in c2:
                lvls[2] += 1
                s += QLN_BACKOFF + q(c2[(g[1], g[2])], c1[g[1]])
            else:
                lvls[1] += 1
                s += 2 * QLN_BACKOFF + q(c1.get(g[2], 0) + 1, n + v)
        r = got[doc_id]
        assert (r["n_l3"], r["n_l2"], r["n_l1"]) == (lvls[3], lvls[2], lvls[1])
        assert r["score_unats"] == s
        assert r["n_trigrams"] == len(w) - 2
    # the fixture genuinely exercises every level
    assert got[0]["n_l3"] > 0 and got[1]["n_l1"] > 0
    assert got[0]["n_l2"] + got[1]["n_l2"] > 0
