"""Physical-plan audit: assert the scale-critical plan properties hold.

Run: python3 tools/plan_audit.py [sf_dir]   (exit 1 on any failed check)

Checks the properties a 100 TB deployment depends on: filters/pruning
pushed into the parquet scan, a join-free projection for index scoring,
TakeOrderedAndProject for top-k (no global sort), zero-Exchange projection
scoring, two-phase aggregation.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from inferdb_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plan-audit")
    qs = __import__("__spark_entry__").queries()
    failures = 0

    def audit(name: str, checks) -> None:
        nonlocal failures
        plan = qs[name](spark, sf)._jdf.queryExecution().executedPlan().toString()
        for label, pred in checks:
            ok = pred(plan)
            print(f"{'PASS' if ok else 'FAIL'} {name}: {label}")
            if not ok:
                failures += 1

    audit("filter_project", [
        ("filters pushed to parquet scan", lambda p: "PushedFilters: [" in p and "GreaterThan" in p),
        ("column-pruned ReadSchema", lambda p: "ReadSchema" in p),
    ])
    audit("index_score", [
        ("dense-table lookup: projection only (no Join, no Exchange)", lambda p: "Join" not in p and "Exchange" not in p),
    ])
    audit("index_score_classification", [
        ("dense-table lookup: projection only (no join, no shuffle)", lambda p: "Join" not in p and "Exchange" not in p),
    ])
    audit("join_enrich_revenue", [
        ("all three dims broadcast", lambda p: p.count("BroadcastHashJoin") == 3 and "SortMergeJoin" not in p),
    ])
    audit("topk_orders", [
        ("TakeOrderedAndProject (no global sort)", lambda p: "TakeOrderedAndProject" in p),
    ])
    audit("embedding_cosine_topk", [
        ("TakeOrderedAndProject", lambda p: "TakeOrderedAndProject" in p),
    ])
    audit("linear_score_dense", [
        ("zero shuffle", lambda p: "Exchange" not in p),
    ])
    audit("multiclass_argmax", [
        ("zero shuffle", lambda p: "Exchange" not in p),
    ])
    audit("cluster_assign", [
        ("projection only (no join/window/shuffle)", lambda p: "Exchange" not in p and "Join" not in p),
    ])
    audit("pricing_summary", [
        ("pushed shipdate filter", lambda p: "PushedFilters" in p and "LessThanOrEqual" in p),
        ("two-phase hash aggregation", lambda p: p.count("HashAggregate") >= 2),
    ])
    audit("range_join_bands", [
        ("broadcast nested-loop (small band side)", lambda p: "BroadcastNestedLoopJoin" in p),
    ])
    audit("date_arithmetic", [
        ("projection only, zero shuffle", lambda p: "Exchange" not in p and "Join" not in p),
    ])
    audit("edit_distance_pairs", [
        ("broadcast nested-loop (tiny dim pair space)", lambda p: "BroadcastNestedLoopJoin" in p and "CartesianProduct" not in p),
    ])
    audit("hash_split_sample", [
        ("two-phase hash aggregation (map-side partial)", lambda p: p.count("HashAggregate") >= 2),
    ])
    # At local scale the 2-col lineitem projection fits the broadcast
    # threshold and Catalyst rightly broadcasts; disable broadcast to
    # simulate the 100 TB condition and assert the fact-fact fallback.
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    audit("cooccurrence_pairs", [
        ("fact-fact sort-merge join once broadcast is impossible",
         lambda p: "SortMergeJoin" in p and "BroadcastHashJoin" not in p),
    ])
    # Banded interval join must stay an equi hash/merge join even when
    # neither side can broadcast — never a nested loop over raw ranges.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    audit("interval_join_counts", [
        ("banded range join is a shuffled equi-join (no nested loop)",
         lambda p: "SortMergeJoin" in p
         and "NestedLoop" not in p and "CartesianProduct" not in p),
    ])
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
    audit("asof_join_rates", [
        ("single window pass, no join", lambda p: "Window" in p and "Join" not in p),
    ])
    audit("min_acctbal_supplier_per_nation", [
        ("decorrelated min joins broadcast (no SMJ, no subquery loop)",
         lambda p: p.count("BroadcastHashJoin") == 2 and "SortMergeJoin" not in p),
    ])
    audit("having_fraction_of_total", [
        ("grand total is a 1-row broadcast (nested-loop over 1 row), "
         "partial agg map-side",
         lambda p: "BroadcastNestedLoopJoin" in p and p.count("HashAggregate") >= 2),
    ])
    audit("customer_order_distribution", [
        ("zero-bucket preserved: outer join present, no filter pushed "
         "below the left side",
         lambda p: "Join LeftOuter" in p or "leftouter" in p.lower()),
    ])
    audit("large_volume_orders", [
        ("HAVING filter applied on aggregated side before join",
         # find() not index(): a regressed plan with no Join node must
         # print FAIL, not crash the audit with ValueError
         lambda p: p.index("Filter (qty") < p.find("Join ")
         if "Filter (qty" in p else ("HashAggregate" in p)),
    ])
    audit("multi_count_distinct", [
        ("Expand-based multi-distinct rewrite (one pass over input)",
         lambda p: "Expand" in p and p.count("HashAggregate") >= 2),
    ])
    audit("cumulative_distinct_users", [
        ("bounded-state rewrite: aggregates before the window, "
         "window over per-day rows only",
         lambda p: p.count("HashAggregate") >= 2 and "Window" in p),
    ])
    audit("width_bucket_histogram", [
        ("two-phase hash aggregation, no shuffle before partial agg",
         lambda p: p.count("HashAggregate") >= 2),
    ])
    audit("q3_shipping_priority", [
        ("top-10 after agg is TakeOrderedAndProject (no global sort)",
         lambda p: "TakeOrderedAndProject" in p),
        ("date predicates pushed to both fact scans",
         lambda p: p.count("PushedFilters: [IsNotNull") >= 2),
    ])
    audit("q6_forecast_revenue", [
        ("all three predicates pushed to the parquet scan, no join",
         lambda p: "PushedFilters" in p and "GreaterThanOrEqual" in p
         and "Join" not in p and p.count("HashAggregate") >= 2),
    ])
    audit("q15_top_supplier", [
        ("revenue view computed once (ReusedExchange for max + join-back)",
         lambda p: "ReusedExchange" in p or "InMemoryTableScan" in p),
    ])
    audit("q17_small_quantity_revenue", [
        ("per-part stats broadcast back (no SMJ on the lines side)",
         lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
    ])
    audit("q21_waiting_suppliers", [
        ("EXISTS/NOT EXISTS are semi+anti hash joins, no nested loop",
         lambda p: "LeftSemi" in p and "LeftAnti" in p and "NestedLoop" not in p),
    ])
    audit("pagerank_supplier_part", [
        ("lineage truncated: final plan is checkpointed-state scan + top-k, "
         "not k nested iteration joins",
         lambda p: "Scan ExistingRDD" in p and "TakeOrderedAndProject" in p
         and "Join" not in p),
    ])
    audit("eval_decontamination", [
        ("eval postings broadcast onto the corpus scan (no fact-fact SMJ)",
         lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
    ])
    audit("bm25_ranked_retrieval", [
        ("idf/corpus stats broadcast; top-k is TakeOrderedAndProject",
         lambda p: "BroadcastHashJoin" in p and "TakeOrderedAndProject" in p),
    ])
    audit("kmv_pairwise_overlap", [
        ("pairwise set algebra over the tiny sketch relation broadcasts",
         lambda p: "BroadcastNestedLoopJoin" in p and "SortMergeJoin" not in p),
    ])
    audit("boilerplate_ngrams", [
        ("two-phase df count (map-side partial), top-k without global sort",
         lambda p: p.count("HashAggregate") >= 2 and "TakeOrderedAndProject" in p),
    ])
    audit("funnel_stages", [
        ("three chained windows share ONE user shuffle (2nd exchange is the "
         "4-row stage rollup)",
         lambda p: p.count("Window") == 3
         and p.count("Exchange hashpartitioning") == 2 and "Join" not in p),
    ])

    audit("gbt_grad_histogram", [
        ("two-phase aggregation (map-side partial histogram before the "
         "shuffle: the property that bounds shuffle at O(nodes*F*bins))",
         lambda p: p.count("HashAggregate") >= 2
         and "Exchange hashpartitioning" in p),
        ("no Python on executors (bin fold + quantize are codegen exprs)",
         lambda p: "Python" not in p and "BatchEvalPython" not in p),
    ])
    audit("pii_redaction", [
        ("map-only: regex scan+mask never shuffles",
         lambda p: "Exchange" not in p and "Join" not in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("paragraph_dedup_corpus", [
        ("exactly two shuffles: paragraph rank + doc reassembly",
         lambda p: p.count("Exchange hashpartitioning") == 2),
        ("first-occurrence via window rank, not a self-join",
         lambda p: "Window" in p and "Join" not in p),
    ])
    audit("fasttext_quality_score", [
        ("zero-shuffle projection (hashed-BoW margin is a pure fold)",
         lambda p: "Exchange" not in p and "Join" not in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("semantic_dedup", [
        ("no cartesian product (pair join is cluster-keyed)",
         lambda p: "CartesianProduct" not in p),
        ("no Python nodes (assign + cosine are codegen folds)",
         lambda p: "Python" not in p),
    ])
    audit("temperature_mixing", [
        ("rate table joins broadcast (no fact-fact SMJ)",
         lambda p: "BroadcastHashJoin" in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("hard_negative_mining_ivf", [
        ("candidate generation is an equi hash join on list_id "
         "(no nested loop, no cartesian)",
         lambda p: "BroadcastNestedLoopJoin" not in p
         and "CartesianProduct" not in p
         and ("BroadcastHashJoin" in p or "SortMergeJoin" in p)),
        ("no Python nodes (probe + assign + cosine are codegen folds)",
         lambda p: "Python" not in p),
    ])

    audit("sq8_quantized_topk", [
        ("TakeOrderedAndProject (distributed k-heap, no global sort)",
         lambda p: "TakeOrderedAndProject" in p),
        ("no Python nodes (quantize + integer dot are codegen folds)",
         lambda p: "Python" not in p),
    ])
    audit("trigram_backoff_lm", [
        ("no cartesian / nested-loop (count joins are word-key equi joins)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("sharded_export_manifest", [
        ("single map-side-combinable aggregation (one Exchange), no joins",
         lambda p: p.count("Exchange") <= 1 and "Join" not in p
         and "HashAggregate" in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("cluster_balanced_sample", [
        ("centroid assign is a join-free projection (only the window "
         "shuffles)", lambda p: "Join" not in p and "CartesianProduct" not in p),
        ("no Python nodes (argmin over literal centroids is a codegen fold)",
         lambda p: "Python" not in p),
    ])
    audit("perplexity_bucket_select", [
        ("no cartesian / nested-loop (scoring joins are word-key equi "
         "joins)", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("split_leakage_audit", [
        ("cross-split candidates via band-key equi join (no cartesian, "
         "no nested loop)", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no Python nodes (minhash fold is codegen)",
         lambda p: "Python" not in p),
    ])
    audit("tokenizer_fertility", [
        ("segmentation over the distinct-word relation, no joins",
         lambda p: "Join" not in p),
        ("no Python nodes (replace chain is codegen)",
         lambda p: "Python" not in p),
    ])
    audit("e2e_curation_pipeline", [
        ("4-stage chain has no cartesian / nested-loop anywhere",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no Python nodes end to end", lambda p: "Python" not in p),
    ])
    audit("asof_attribution", [
        ("union+window as-of: NO join operator at all (no range-join "
         "pair explosion)", lambda p: "Join" not in p
         and "CartesianProduct" not in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("wordpiece_segment_apply", [
        ("greedy longest-match fold is pure codegen (no Python nodes)",
         lambda p: "Python" not in p),
        ("single shuffle (the word-count groupBy), no joins",
         lambda p: p.count("Exchange") <= 2 and "Join" not in p),
    ])
    # ---- round-5 additions ----
    audit("item_item_topk", [
        ("degree-capped co-rating join is an equi join (no cartesian, "
         "no nested loop)", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("conformal_interval", [
        # q-hat is selected by count-bisection at plan-build time and
        # enters the scoring plan as a broadcast 1-row literal relation:
        # the plan must contain NO order-statistic machinery at all.
        ("q-hat via count-bisection: no TakeOrdered, no Window in the "
         "scoring plan", lambda p: "TakeOrderedAndProject" not in p
         and "Window" not in p),
        ("only the presentation orderBy sorts (no sort feeding the "
         "selection)", lambda p: p.count("Sort ") <= 1),
        ("train stats + q-hat broadcast to test probes",
         lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
    ])
    audit("mg_heavy_hitters", [
        ("shard summaries merge broadcastably (err-bound scalar is "
         "broadcast)", lambda p: "CartesianProduct" not in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("ewma_smoothing", [
        ("recurrence folds in codegen (no Python nodes)",
         lambda p: "Python" not in p),
        ("one groupBy shuffle, no joins",
         lambda p: "Join" not in p),
    ])
    audit("entity_resolution", [
        ("blocking join is an equi join on (nation, band) — no "
         "cartesian / nested loop", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no Python nodes through the CC fixpoint",
         lambda p: "Python" not in p),
    ])
    audit("softmax_train_replay", [
        ("scoring projection has no Python nodes",
         lambda p: "Python" not in p),
    ])
    audit("mf_train_replay", [
        ("factor joins are hash equi joins (no nested loop)",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("svm_train_replay", [
        ("scoring is a pure projection (zero shuffle)",
         lambda p: "Exchange" not in p and "Join" not in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("hll_distinct_registers", [
        ("map-side-combined register MAX (two-phase agg)",
         lambda p: p.count("HashAggregate") >= 2),
        ("domain join broadcast", lambda p: "SortMergeJoin" not in p),
    ])
    audit("assoc_rules_apriori", [
        ("pair self-join is a hash equi join (never nested loop)",
         lambda p: "CartesianProduct" not in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("poisson_bootstrap_ci", [
        ("one-pass: exactly one file scan in the whole plan",
         lambda p: p.count("FileScan") == 1),
        ("two-phase aggregation (map-side partials)",
         lambda p: p.count("HashAggregate") >= 2),
    ])
    audit("ranking_eval_metrics", [
        ("query side broadcast (probe pattern)",
         lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("dbscan_grid", [
        ("cell candidates via equi join (never all-pairs cartesian)",
         lambda p: "CartesianProduct" not in p),
        ("no Python nodes", lambda p: "Python" not in p),
    ])
    audit("isotonic_pav_replay", [
        ("fitted blocks broadcast back (no shuffle join)",
         lambda p: "SortMergeJoin" not in p),
        ("two-phase bin aggregation", lambda p: p.count("HashAggregate") >= 2),
    ])
    audit("eval_decontamination", [
        ("eval postings broadcast onto the raw corpus grams (filter "
         "BEFORE any corpus-side dedup shuffle)",
         lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p),
        ("survivors-only shuffle (no full-postings distinct): the eval "
         "dedup + the countDistinct pair, nothing corpus-sized",
         lambda p: p.count("Exchange hashpartitioning") <= 3),
    ])
    audit("cms_term_frequency", [
        ("distinct-terms-first build: positions computed after the "
         "term-count aggregate, never per token instance",
         lambda p: p.count("HashAggregate") >= 4),
    ])

    audit("kendall_tau_binned", [
        ("pair counting on the cell grid via broadcast nested loop "
         "(bounded by bins^2), never a row-level pair join",
         lambda p: "BroadcastNestedLoopJoin" in p and "SortMergeJoin" not in p),
        ("no global sort or window anywhere",
         lambda p: "Window" not in p),
    ])
    audit("mann_whitney_binned", [
        ("histogram self-join broadcast (domain-bounded), no sort-merge",
         lambda p: "BroadcastNestedLoopJoin" in p and "SortMergeJoin" not in p),
        ("no rank window over raw rows", lambda p: "Window" not in p),
    ])
    audit("permutation_test_signflip", [
        ("all 32 permutations in one aggregation pass: no join, no window, "
         "no per-replica re-scan",
         lambda p: "Join" not in p and "Window" not in p
         and p.count("FileScan") == 1),
    ])
    audit("pps_systematic_sample", [
        ("prefix sums partitioned by stratum (every windowspec keys on seg "
         "— no single-partition global window over customers)",
         lambda p: "windowspecdefinition(seg" in p
         and "windowspecdefinition()" not in p),
    ])
    audit("page_hinkley_drift", [
        ("hourly aggregate BELOW the windows (plans print root-first, so "
         "the deepest HashAggregate must sit under the Window node: windows "
         "run on the per-hour relation, never raw events)",
         lambda p: "Window" in p
         and p.rfind("HashAggregate") > p.index("Window")),
    ])
    audit("mahalanobis_outliers", [
        ("moment constants broadcast back onto one scoring scan, top-k "
         "via TakeOrdered (no global sort, no sort-merge join)",
         lambda p: "TakeOrderedAndProject" in p
         and "SortMergeJoin" not in p and "Window" not in p),
    ])
    audit("mmd_poly_two_sample", [
        ("kernel two-sample test without a kernel matrix: no window, "
         "moment relation read from cache for both branches",
         lambda p: "Window" not in p and "InMemoryTableScan" in p),
    ])
    audit("cuped_adjusted_ab", [
        ("moment sums from the cached per-customer relation: no window, "
         "single-row reduces joined broadcast",
         lambda p: "Window" not in p and "InMemoryTableScan" in p),
    ])

    audit("average_precision_eval", [
        # the cumulative pass must run over the GROUPED distinct-score
        # relation: aggregation below the window, no row-level sort-merge
        # join, and the final reduce is single-row
        ("grouped scores under the window; no sort-merge join",
         lambda p: "Window" in p and "HashAggregate" in p
         and "SortMergeJoin" not in p),
        # bounded-domain guard (metrics._bounded_score): the window input
        # must be the score-grouped relation, i.e. a HashAggregate BELOW
        # the Window in the tree — a plan where the single-partition
        # window consumed raw rows would print no aggregate under it
        ("aggregate feeds the window (distinct-score domain, not rows)",
         lambda p: "Window" in p and p.rfind("HashAggregate") > p.index("Window")),
    ])
    audit("auc_rank_sum", [
        ("rank-sum window over the grouped distinct-score relation",
         lambda p: "Window" in p
         and p.rfind("HashAggregate") > p.index("Window")
         and "SortMergeJoin" not in p),
    ])
    audit("youden_j_threshold", [
        ("argmax via broadcast of 1-row best/threshold relations "
         "(no row-level self-join)",
         lambda p: "SortMergeJoin" not in p
         and ("BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p)),
    ])
    audit("mcnemar_paired_test", [
        ("single two-phase aggregation: no join, no window, no sort",
         lambda p: "Join" not in p and "Window" not in p
         and p.count("HashAggregate") >= 2),
    ])
    audit("jarque_bera_normality", [
        ("power sums in one two-phase aggregation, no shuffle beyond "
         "the single-row exchange",
         lambda p: "Join" not in p and "Window" not in p
         and p.count("HashAggregate") >= 2),
    ])
    audit("js_divergence_drift", [
        ("one groupBy(bin) + broadcast totals; the two eras never join",
         lambda p: "SortMergeJoin" not in p and "Window" not in p),
    ])
    audit("wasserstein_binned_drift", [
        ("cumulative CDF windows over the binned domain (post-agg), "
         "broadcast totals only",
         lambda p: "SortMergeJoin" not in p and "Window" in p
         and "HashAggregate" in p),
    ])
    audit("skyline_pareto_parts", [
        ("frontier via domain window + broadcast join-back; never a "
         "quadratic dominance self-join",
         lambda p: "CartesianProduct" not in p and "Window" in p
         and ("BroadcastHashJoin" in p or "SortMergeJoin" not in p)),
    ])
    audit("ipw_ate_stratified", [
        ("stratified sums + 1-row broadcast ATE; no row-level sort",
         lambda p: "Window" not in p
         and ("BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p)),
    ])
    audit("xbar_control_chart", [
        ("per-week sums with broadcast pooled moments; no window",
         lambda p: "Window" not in p and "SortMergeJoin" not in p
         and "BroadcastNestedLoopJoin" in p),
    ])
    audit("functional_dependency_audit", [
        ("stacked two-level aggregations; no join anywhere",
         lambda p: "Join" not in p),
    ])

    # ---- STAGED round-8 gates (not yet in the driver contract) ----
    # gate_r8* modules register into gate._QUERIES on import but are not
    # in _ensure_registered; audit them from the registry directly so
    # the invariants hold BEFORE activation.  Gates that materialize
    # their (domain-bounded) result via collect+createDataFrame expose
    # only a LocalTableScan plan and are not auditable here.
    import glob
    import importlib
    import os

    from inferdb_spark import gate as _gate

    _repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for _pat in ("gate_r8*.py", "gate_r9*.py", "gate_r1[0-9]*.py"):
        for _p in sorted(glob.glob(os.path.join(_repo, "inferdb_spark", _pat))):
            importlib.import_module(
                "inferdb_spark." + os.path.basename(_p)[:-3]
            )
    qs = dict(qs)
    qs.update(_gate._QUERIES)

    audit("cronbach_alpha", [
        ("pure two-level aggregation; no join, no window",
         lambda p: "Join" not in p and "Window" not in p),
    ])
    audit("cochran_q_binary", [
        ("one conditional aggregation; no join, no window",
         lambda p: "Join" not in p and "Window" not in p),
    ])
    audit("friedman_test_lines", [
        ("conditional pivot + 1-row aggregate; no join, no window",
         lambda p: "Join" not in p and "Window" not in p),
    ])
    audit("soundex_blocking_join", [
        ("projection + vocabulary-domain groupBy; no join",
         lambda p: "Join" not in p),
    ])
    audit("geohash_cell_agg", [
        ("pure integer projection + cell groupBy; no join, no window",
         lambda p: "Join" not in p and "Window" not in p),
    ])
    audit("cusum_control_chart", [
        ("windows on the week domain; broadcast totals; never SMJ",
         lambda p: "Window" in p and "SortMergeJoin" not in p
         and "CartesianProduct" not in p),
    ])
    audit("holt_winters_monthly", [
        ("one aggregate fold; no window, no sort-merge join",
         lambda p: "Window" not in p and "SortMergeJoin" not in p),
    ])
    audit("breusch_pagan_weekly", [
        ("ordered-array fold; no window, broadcast fit only",
         lambda p: "Window" not in p and "SortMergeJoin" not in p),
    ])
    audit("prefixspan_bigrams", [
        ("user-keyed HASH equi-join (the non-equi parts ride as the "
         "join condition); the only BNLJ is the 1-row n_users broadcast",
         lambda p: "CartesianProduct" not in p and "Window" not in p
         and "HashJoin [user_id" in p),
    ])
    audit("theil_sen_weekly_pairs", [
        ("pair join runs on the AGGREGATED week relation (BNLJ of a "
         "domain-bounded side), never a row-level cartesian",
         lambda p: "CartesianProduct" not in p),
    ])
    audit("abc_pareto_parts", [
        ("cumulative window on the part domain; no sort-merge join",
         lambda p: "Window" in p and "SortMergeJoin" not in p),
    ])
    audit("kruskal_wallis_binned", [
        ("midranks from the bin-domain histogram; no cartesian",
         lambda p: "Window" in p and "CartesianProduct" not in p),
    ])
    audit("rdd_local_linear", [
        ("keyed join + one conditional moment row; no window",
         lambda p: "Window" not in p and "CartesianProduct" not in p),
    ])
    audit("cvm_energy_two_sample", [
        ("bin-domain CDF windows; broadcast totals; never SMJ",
         lambda p: "Window" in p and "SortMergeJoin" not in p),
    ])
    audit("cochran_armitage_trend", [
        ("one conditional aggregation; no join, no window",
         lambda p: "Join" not in p and "Window" not in p),
    ])
    audit("partial_correlation", [
        ("grouped items + 1-row moment aggregate; no window",
         lambda p: "Window" not in p and "Join" not in p),
    ])
    audit("ks_hash_uniformity", [
        ("hash projection + bin-domain windows; no join",
         lambda p: "Join" not in p and "Window" in p),
    ])
    audit("dunn_posthoc_pairs", [
        ("pair join on the 5-row per-group relation; no cartesian of data",
         lambda p: "CartesianProduct" not in p and "SortMergeJoin" not in p),
    ])
    # ---- STAGED round-10 gates ----
    audit("e2e_curation_index", [
        # the index fit/score leg must stay broadcast: the kv relation's
        # key domain is (sources x token bins), never row-sized
        ("kv score join is a broadcast hash join; no cartesian",
         lambda p: "BroadcastHashJoin" in p and "CartesianProduct" not in p),
    ])
    audit("jonckheere_terpstra_trend", [
        ("pair terms join bin-domain relations (hash equi on the bin); "
         "no row-level cartesian",
         lambda p: "CartesianProduct" not in p and "Window" in p),
    ])
    audit("degree_assortativity", [
        ("edge-keyed hash joins only; no pair fan-out anywhere",
         lambda p: "CartesianProduct" not in p and "Window" not in p),
    ])
    audit("hellinger_bhattacharyya_drift", [
        ("bin-domain terms with broadcast totals; no SMJ",
         lambda p: "SortMergeJoin" not in p and "CartesianProduct" not in p),
    ])
    audit("hotelling_t2_two_sample", [
        ("one conditional moment aggregation; no join, no window",
         lambda p: "Join" not in p and "Window" not in p),
    ])
    audit("dickey_fuller_unitroot", [
        ("one lag window on the week domain; no join",
         lambda p: "Window" in p and "Join" not in p),
    ])
    audit("newey_west_hac", [
        ("lag windows + broadcast totals; never SMJ",
         lambda p: "Window" in p and "SortMergeJoin" not in p),
    ])
    audit("variance_ratio_test", [
        ("two lag columns from one window; no join",
         lambda p: "Window" in p and "Join" not in p),
    ])
    audit("ridge_regression_gram", [
        ("one scan, one 1-row Gram aggregate; no join/window/shuffle "
         "beyond the two-phase agg",
         lambda p: "Join" not in p and "Window" not in p),
    ])
    audit("mcc_matthews_eval", [
        ("one conditional confusion aggregation; no join, no window",
         lambda p: "Join" not in p and "Window" not in p),
    ])
    audit("ranking_eval_shortlist", [
        # the whole point of the shortlist: candidates meet queries ONLY
        # through the equi-join on list_id (broadcast — queries are the
        # small side), never an all-pairs nested loop over the corpus
        ("probe equi-join on list_id, broadcast queries; no cartesian "
         "all-pairs stage",
         lambda p: "CartesianProduct" not in p and "SortMergeJoin" not in p
         and "BroadcastHashJoin" in p),
    ])

    print("\n" + ("ALL PLAN CHECKS PASS" if failures == 0 else f"{failures} PLAN CHECKS FAILED"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
