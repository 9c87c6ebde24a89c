"""Dump formatted physical plans for the headline queries into PLANS.md.

Run: python3 tools/plan_report.py [sf_dir]

Complements tools/plan_audit.py (which ASSERTS invariants): this makes
the full plans reviewable — scan pushdown, codegen spans, join
strategies, exchange placement.
"""

from __future__ import annotations

import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "index_score",          # dense-table lookup: one projection
    "pricing_summary",      # pushed filters + two-phase agg
    "funnel_stages",        # chained windows, one shuffle
    "interval_join_counts", # banded range join
    "cooccurrence_pairs",   # fact-fact self-join
    "topk_orders",          # TakeOrderedAndProject
    "q3_shipping_priority", # TPC-H classic: dims broadcast, top-k
    "q21_waiting_suppliers",# semi+anti self-joins
    "bm25_ranked_retrieval",# inverted-index relational plan
    "eval_decontamination", # corpus scan vs broadcast eval postings
    "kmv_distinct_sketch",  # sketch build: dedup + rank filter
    "gbt_grad_histogram",   # GBT training inner loop: two-phase histogram agg
    "pii_redaction",        # map-only regex scan+mask (zero exchange)
    "paragraph_dedup_corpus",  # paragraph rank + reassembly (two shuffles)
    "semantic_dedup",       # centroid assign (map) + in-cluster self-join
    "temperature_mixing",   # tiny agg + broadcast rate join
    "fasttext_quality_score",  # zero-shuffle hashed-BoW margin projection
    "gbt_train_predict",    # full hist-GBT fit + CASE WHEN ensemble score
    "asof_attribution",     # union+window as-of: NO join operator
    "split_leakage_audit",  # cross-split MinHash band equi-join
    "wordpiece_segment_apply",  # greedy longest-match codegen fold
    "cluster_balanced_sample",  # join-free assign + per-cluster hash rank
    "sharded_export_manifest",  # single map-side-combinable manifest agg
    "e2e_curation_pipeline",    # 4-operator chain pipelined by Catalyst
    "svm_train_replay",         # fitted hyperplane scoring: pure projection
    "hll_distinct_registers",   # register build: two-phase MAX + domain join
    "assoc_rules_apriori",      # support-pruned basket self-join
    "poisson_bootstrap_ci",     # 32 replicas in one scan (64-column agg)
    "ranking_eval_metrics",     # broadcast probe + top-k-only windows
    "dbscan_grid",              # 3x3 cell equi-join + CC composition
    "isotonic_pav_replay",      # n_bins agg + broadcast step-function join
    "average_precision_eval",   # grouped scores + distinct-score window
    "skyline_pareto_parts",     # domain window + broadcast frontier join
    "wasserstein_binned_drift", # binned CDF windows, integer cross-products
    "ipw_ate_stratified",       # stratified sums + 1-row broadcast ATE
    "kcore_decomposition",      # iterative peel, checkpointed edge state
]


def main() -> None:
    from contextlib import redirect_stdout

    from inferdb_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-report")
    qs = __import__("__spark_entry__").queries()

    out = ["# PLANS — formatted physical plans of headline queries",
           "", f"Generated by tools/plan_report.py at {sf}.", ""]
    for name in QUERIES:
        df = qs[name](spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", "```", buf.getvalue().rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(QUERIES)} plans)")


if __name__ == "__main__":
    main()
