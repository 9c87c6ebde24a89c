"""End-to-end training-data pipeline demo: every stage a real operator
from the engine, chained the way a 100 TB corpus build would run.

    ingest -> profile (quality gate) -> exact dedup -> near-dedup
    (MinHash LSH pairs -> connected components -> canonical docs)
    -> language filter -> quality filter -> fluency filter (bigram LM)
    -> eval-suite decontamination (word-5-gram overlap)
    -> weighted priority sample (deterministic, k per source)
    -> tokenize + vocab + hashed features -> deterministic split
    -> supervised index fit + score (the InferDB path)

Run: python3 tools/pipeline_demo.py [sf_dir]
Prints one line per stage: rows surviving + what the stage did.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    from inferdb_spark.catalog import load_table
    from inferdb_spark.functions.hashing import h52
    from inferdb_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard
    from inferdb_spark.operators.graph import dedup_clusters
    from inferdb_spark.operators.textprep import (
        bigram_counts,
        bigram_logprob_score,
        build_vocab,
        detect_language,
        hash_features,
        quality_score,
    )
    from inferdb_spark.operators.validate import expect
    from inferdb_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("pipeline-demo")

    docs = load_table(spark, sf, "documents")
    stage = lambda name, df, note: print(f"{name:<22} {df.count():>8} rows  | {note}")
    stage("ingest", docs, "parquet scan, explicit schema")

    # batch data-quality gate before any expensive work
    viol = expect(
        docs,
        {
            "text_not_null": F.col("text").isNotNull(),
            "n_chars_sane": F.col("n_chars").between(0, 10_000_000),
        },
    )
    bad = {r["check"]: r["n_violations"] for r in viol.collect()}
    print(f"{'quality-gate':<22} {'':>8}       | violations: {bad}")

    deduped = exact_dedup(docs, ["text"], "doc_id")
    stage("exact-dedup", deduped, "md5 groupBy, keep lowest doc_id")

    # LSH emits CANDIDATES; verify with exact n-gram Jaccard before
    # clustering (skipping the verify step would over-merge a corpus with
    # a shared small vocabulary — every doc LSH-collides with something)
    cand = minhash_lsh_pairs(deduped, "doc_id", "text")
    verified = ngram_jaccard(deduped, cand, "doc_id", "text").filter(
        F.col("jaccard") >= 0.8
    )
    clusters = dedup_clusters(
        verified.select(F.col("id_a"), F.col("id_b")), deduped, "doc_id"
    )
    canonical = deduped.join(
        clusters.filter(F.col("doc_id") == F.col("cluster")).select("doc_id"),
        "doc_id",
    )
    stage("near-dedup", canonical,
          "LSH candidates -> Jaccard>=0.8 verify -> CC -> 1 rep/cluster")

    lang = canonical.withColumn("lang_pred", detect_language("`text`"))
    en = lang.filter(F.col("lang_pred").isin("en", "und"))
    stage("lang-filter", en, "stopword-profile language ID (en + und kept: "
          "the synthetic corpus is mostly profile-less word salad)")

    q = quality_score(en)
    good = q.filter(F.col("quality_score") >= 0.4)
    stage("quality-filter", good, "length/alpha/stopword/word-length blend >= 0.4")

    bg, ug, v = bigram_counts(good)
    lm = bigram_logprob_score(good, bg, ug, v)
    med = lm.approxQuantile("score_unats", [0.1], 0.01)[0]
    fluent = good.join(
        lm.filter(F.col("score_unats") >= med).select("doc_id"), "doc_id"
    )
    stage("fluency-filter", fluent, "bigram-LM micro-nats above p10")

    # decontaminate against a (synthetic) eval suite before any sampling
    from inferdb_spark.operators.textprep import decontaminate

    eval_suite = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.substring("text", 21, 100).alias("text"),
    )
    clean = decontaminate(fluent, eval_suite, n=5, min_shared=3)
    stage("decontaminate", clean,
          "drop docs sharing >=3 word-5-grams with the eval suite "
          "(broadcast eval postings)")

    # weighted priority sample: longer docs proportionally likelier,
    # deterministic across engines/retries (no RNG state)
    from pyspark.sql.window import Window

    u_inv = (h52(F.col("doc_id").cast("string")) + 1).cast("double")
    pri = clean.withColumn(
        "priority", F.col("n_chars").cast("double") * float(1 << 52) / u_inv
    )
    w = Window.partitionBy("source").orderBy(F.desc("priority"), F.asc("doc_id"))
    sampled = (
        pri.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .drop("rn", "priority")
    )
    stage("priority-sample", sampled,
          "k=15/source, weight=n_chars (Duffield-Lund-Thorup priorities)")

    # temperature mixing: flatten source skew (p ∝ n^0.5) before layout
    from inferdb_spark.operators.textprep import (
        sequence_packing,
        temperature_mixing,
    )

    mixed = temperature_mixing(sampled, "source", "doc_id", 0.5, 700)
    stage("temperature-mix", mixed, "p ∝ n^0.5 per source, h52 keep (target 700‰)")

    # sequence packing: concat-and-chunk the surviving token stream into
    # 256-token training windows
    packed = sequence_packing(
        quality_score(mixed).select(
            "doc_id", "source", F.col("n_tokens")
        ),
        "doc_id", "n_tokens", "source", 256,
    )
    n_chunks = packed.select("grp", "chunk_id").distinct().count()
    print(f"{'sequence-pack':<22} {packed.count():>8} rows  | "
          f"{n_chunks} x 256-token windows (doc spans may straddle cuts)")

    vocab = build_vocab(sampled, min_count=2)
    feats = hash_features(sampled, dim=256)
    print(f"{'featurize':<22} {'':>8}       | vocab={vocab.count()} terms, "
          f"hashed COO nnz={feats.count()}")

    split = sampled.withColumn(
        "split",
        F.when(h52(F.col("doc_id").cast("string")) % 100 < 80, "train").otherwise("test"),
    )
    tr = split.filter("split = 'train'").count()
    te = split.filter("split = 'test'").count()
    print(f"{'hash-split':<22} {'':>8}       | train={tr} test={te} (deterministic h52)")

    # the InferDB path on a numeric proxy task over the surviving corpus
    from inferdb_spark.api import fit_index_pipeline
    from inferdb_spark.operators.metrics import rmsle
    from inferdb_spark.operators.scoring import index_score

    featurized = quality_score(split).select(
        "doc_id", "split",
        F.col("n_tokens").cast("double").alias("f_tokens"),
        F.col("alpha_ratio").alias("f_alpha"),
        (F.col("n_chars").cast("double") + 1.0).alias("target"),
    )
    train = featurized.filter("split = 'train'")
    test = featurized.filter("split = 'test'")
    pipe = fit_index_pipeline(train, ["f_tokens", "f_alpha"], "target", task="regression")
    scored = index_score(test, pipe.index)
    err = float(rmsle(scored, "prediction", "target").first()["rmsle"])
    print(f"{'index-fit+score':<22} {test.count():>8} rows  | rmsle={err:.4f} "
          f"(supervised bins -> kv broadcast probe)")

    # native histogram-GBT training on the same proxy task: one shuffle
    # per tree level, rows never leave executors; score via the fitted
    # ensemble burned into a CASE WHEN projection
    from inferdb_spark.operators.gbt_train import fit_hist_gbt

    gbt = fit_hist_gbt(
        train, ["f_tokens", "f_alpha"], "target",
        objective="squared", n_trees=5, max_depth=3, n_bins=16,
    )
    gscored = test.withColumn("prediction", gbt.expression())
    gerr = float(rmsle(gscored, "prediction", "target").first()["rmsle"])
    print(f"{'gbt-fit+score':<22} {test.count():>8} rows  | rmsle={gerr:.4f} "
          f"(hist-GBT {len(gbt.trees)} trees, importance="
          f"{ {k: round(v, 1) for k, v in gbt.importance('gain').items()} })")


if __name__ == "__main__":
    main()
