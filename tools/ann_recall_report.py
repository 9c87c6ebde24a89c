#!/usr/bin/env python3
"""ANN recall@k report: measure every approximate index tier against
exact brute-force cosine on the same embeddings table.

Usage: python3 tools/ann_recall_report.py [sf_dir] [--queries N] [--k K]

For N deterministic query vectors drawn from the table itself
(vec_id ≡ 0 mod step — a held-in probe set, the standard recall
protocol), computes exact top-k (cosine_topk) as ground truth and
reports mean/min recall@k for:

  - LSH hyperplane buckets (16 planes)
  - IVF, n_probe ∈ {1, 2, 4} of 16 lists
  - IVF-PQ (same probes, 8×16 codebooks, ADC ranking)
  - SQ8 exact-integer quantized dot product (full scan, rank fidelity
    rather than candidate pruning)

Numbers are recorded per-round in BASELINE.md ("ANN recall" section) so
a recall regression is as visible as a latency one.  The probe set and
every fit are seeded/deterministic — reruns are comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def recall(got_ids: list[int], truth_ids: list[int]) -> float:
    return len(set(got_ids) & set(truth_ids)) / max(len(truth_ids), 1)


def ranking_eval_report(sf_dir: str, n_lists: int = 16, n_probe: int = 2) -> dict:
    """Exact vs IVF-shortlisted retrieval evaluation (round-7 verdict #6):
    runs ranking_eval_metrics' exact all-pairs path and the
    ivf_shortlisted_eval scale path (fitted k-means centroids AND the
    gate's literal hyperplane centroids) over the same query/candidate
    split, reporting wall time, mean NDCG@10 / MAP@10 of each, and the
    candidate recall@10 of each shortlist (fraction of the exact top-10
    candidates the shortlist contains, per query, averaged)."""
    import time

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from inferdb_spark.catalog import load_table
    from inferdb_spark.functions.vector import as_double_array, l2_norm
    from inferdb_spark.operators import similarity as S
    from inferdb_spark.operators.rank_metrics import (
        RANK_K,
        ivf_shortlisted_eval,
        ranking_metrics,
        scored_pairs,
    )
    from inferdb_spark.session import get_spark

    spark = get_spark("ranking-eval-report")
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        as_double_array(F.col("embedding")).alias("v"),
    )
    nb = e.withColumn("nrm", l2_norm(F.col("v"))).persist()
    qs = nb.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"),
        F.col("v").alias("qv"), F.col("nrm").alias("qn"),
    ).persist()
    cs = nb.where(F.col("vec_id") % 25 != 0).select(
        F.col("vec_id").alias("cid"), F.col("label").alias("clabel"),
        F.col("v").alias("cv"), F.col("nrm").alias("cn"),
    ).persist()
    n_q, n_c = qs.count(), cs.count()

    t0 = time.perf_counter()
    pairs = scored_pairs(F.broadcast(qs), cs).persist()
    rr = pairs.groupBy("qid").agg(F.sum("rel").cast("long").alias("n_rel"))
    exact = {r["qid"]: r for r in ranking_metrics(pairs, rr, k=RANK_K).collect()}
    t_exact = time.perf_counter() - t0
    w = Window.partitionBy("qid").orderBy(F.desc("cos6"), F.asc("cid"))
    top_exact = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= RANK_K)
        .select("qid", "cid")
        .persist()
    )
    pairs.unpersist()

    out: dict = {"sf_dir": sf_dir, "n_queries": n_q, "n_candidates": n_c,
                 "k": RANK_K, "n_lists": n_lists, "n_probe": n_probe,
                 "exact": {"sec": round(t_exact, 2),
                           "mean_ndcg": _mean(exact.values(), "ndcg6"),
                           "mean_map": _mean(exact.values(), "map6")},
                 "variants": {}}

    from inferdb_spark.gate_r9a import N_PLANES, RANK_PLANES
    from inferdb_spark.operators.rank_metrics import lsh_shortlist_pairs

    fitted = S.fit_ivf_centroids(cs, "cv", n_lists=n_lists)
    literal = S.make_hyperplanes(n_lists, 64, seed=1234)

    def _lsh_eval():
        pairs = lsh_shortlist_pairs(F.broadcast(qs), cs, RANK_PLANES, n_probe)
        lc = cs.groupBy(F.col("clabel").alias("_lbl")).agg(
            F.count("*").cast("long").alias("_n")
        )
        nr = qs.join(F.broadcast(lc), F.col("qlabel") == F.col("_lbl"), "left") \
            .select("qid", F.coalesce(F.col("_n"), F.lit(0)).cast("long")
                    .alias("n_rel"))
        return ranking_metrics(pairs, nr, k=RANK_K)

    variants = [
        ("ivf_fitted_kmeans", "ivf", fitted),
        ("ivf_literal_hyperplanes", "ivf", literal),
        (f"lsh_multiprobe_{2 ** N_PLANES}cells", "lsh", RANK_PLANES),
    ]
    for name, kind, cents in variants:
        t0 = time.perf_counter()
        if kind == "ivf":
            got = {r["qid"]: r for r in
                   ivf_shortlisted_eval(F.broadcast(qs), cs, cents,
                                        n_probe=n_probe, k=RANK_K).collect()}
        else:
            got = {r["qid"]: r for r in _lsh_eval().collect()}
        sec = time.perf_counter() - t0
        # candidate recall@10: exact top-10 present in the probed lists
        if kind == "ivf":
            cand = cs.withColumn(
                "list_id", F.expr(S.ivf_assign_sql("`cv`", cents))
            )
            qpr = qs.withColumn(
                "list_id",
                F.explode(F.expr(S.ivf_probe_cells_sql("`qv`", cents, n_probe))),
            ).select("qid", "list_id")
        else:
            cand = cs.withColumn(
                "list_id", F.expr(S.hyperplane_bucket_sql("`cv`", cents))
            )
            qpr = qs.withColumn(
                "list_id",
                F.explode(
                    F.expr(S.hyperplane_multiprobe_sql("`qv`", cents, n_probe))
                ),
            ).select("qid", "list_id")
        hit = (
            top_exact.join(cand.select("cid", "list_id"), "cid")
            .join(qpr, ["qid", "list_id"])
            .groupBy("qid").agg(F.countDistinct("cid").alias("h"))
        )
        hits = {r["qid"]: r["h"] for r in hit.collect()}
        per_q = top_exact.groupBy("qid").count().collect()
        rec = [hits.get(r["qid"], 0) / r["count"] for r in per_q]
        out["variants"][name] = {
            "sec": round(sec, 2),
            "mean_ndcg": _mean(got.values(), "ndcg6"),
            "mean_map": _mean(got.values(), "map6"),
            "cand_recall_at_k_mean": round(sum(rec) / max(len(rec), 1), 3),
            "cand_recall_at_k_min": round(min(rec) if rec else 0.0, 3),
        }
    return out


def _mean(rows, field: str) -> float:
    rows = list(rows)
    return round(sum(r[field] for r in rows) / max(len(rows), 1), 4)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", type=int, default=20)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--ranking-eval", action="store_true",
                    help="report exact-vs-IVF-shortlisted ranking evaluation "
                         "instead of the ANN index recall sweep")
    args = ap.parse_args()

    if args.ranking_eval:
        out = ranking_eval_report(args.sf_dir)
        print(json.dumps(out, indent=1))
        return 0

    from pyspark.sql import functions as F

    from inferdb_spark.catalog import load_table
    from inferdb_spark.operators import similarity as S
    from inferdb_spark.session import get_spark

    spark = get_spark("ann-recall")
    emb = load_table(spark, args.sf_dir, "embeddings").persist()
    n_rows = emb.count()
    step = max(n_rows // args.queries, 1)
    probes = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") % step == 0)
        .orderBy("vec_id")
        .limit(args.queries)
        .collect()
    ]

    planes = S.make_hyperplanes(16, 64)
    centroids = S.fit_ivf_centroids(emb, "embedding", n_lists=16)
    indexed = S.ivf_build(emb, "embedding", centroids).persist()
    indexed.count()
    codebooks = S.fit_pq_codebooks(emb, "embedding", n_subvectors=8, n_centroids=16)
    scales = S.fit_sq8_scales(emb, "embedding")

    def ids(df) -> list[int]:
        return [int(r["vec_id"]) for r in df.collect()]

    methods = {
        "lsh_16planes": lambda q: S.lsh_cosine_topk(emb, "embedding", q, planes, k=args.k),
        "ivf_probe1": lambda q: S.ivf_search(indexed, "embedding", centroids, q, k=args.k, n_probe=1),
        "ivf_probe2": lambda q: S.ivf_search(indexed, "embedding", centroids, q, k=args.k, n_probe=2),
        "ivf_probe4": lambda q: S.ivf_search(indexed, "embedding", centroids, q, k=args.k, n_probe=4),
        "ivfpq_probe2": lambda q: S.ivf_pq_search(indexed, "embedding", centroids, codebooks, q, n_probe=2, k=args.k),
        "ivfpq_probe4": lambda q: S.ivf_pq_search(indexed, "embedding", centroids, codebooks, q, n_probe=4, k=args.k),
        "sq8_fullscan": lambda q: S.sq8_topk(emb, "embedding", scales, q, k=args.k),
    }

    per_method: dict[str, list[float]] = {m: [] for m in methods}
    for vid, q in probes:
        truth = ids(S.cosine_topk(emb, "embedding", q, k=args.k))
        for m, fn in methods.items():
            per_method[m].append(recall(ids(fn(q)), truth))

    out = {"sf_dir": args.sf_dir, "n_queries": len(probes), "k": args.k,
           "recall": {}}
    print(f"{'method':16s} {'mean':>6s} {'min':>6s}")
    for m, vals in per_method.items():
        mean = sum(vals) / len(vals)
        out["recall"][m] = {"mean": round(mean, 3), "min": round(min(vals), 3)}
        print(f"{m:16s} {mean:6.3f} {min(vals):6.3f}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
