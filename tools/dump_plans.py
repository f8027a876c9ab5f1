"""Regenerate PLANS.md: formatted physical plans for flagship queries.

Usage:  python tools/dump_plans.py [sf_dir]   (default /root/testdata/sf0.01)

Each section is `.explain("formatted")` output captured AFTER execution, so
AQE has finalized (isFinalPlan=true) and the plan shown is the plan that
actually ran: scan pushdowns, broadcast choices, codegen stages, exchange
count. These are the plans the test suite's audits assert on — the document
is for humans reviewing the scale story.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FLAGSHIPS = [
    "q01_pricing_summary",      # scan pushdown + partial/final agg
    "q03_top_revenue_orders",   # broadcast join + TakeOrdered
    "q21_waiting_suppliers",    # semi+anti correlation, no BNLJ
    "star_fact_summary",        # dim keys derived in place: no join
    "dedup_minhash_lsh",        # explode -> min-agg -> banded self-join
    "ann_ivf_topk",             # probe-pruned inverted file search
    "curation_funnel",          # fused gates + single dedup shuffle
    "grouping_sets_aggregation",  # one-scan Expand multi-granularity
    "dedup_minhash_oph",        # 1-hash/shingle OPH signatures + band join
    "recursive_graph_reachability",  # WITH RECURSIVE UnionLoop execution
    "python_datasource_scan",   # custom-source partition-parallel scan
    "simhash_hamming_pairs",    # portable 60-bit vote-sum + band self-join
    "sequence_packing",         # per-shard window cumsum pack assignment
    "semantic_dedup_clusters",  # SemDeDup: broadcast centroids + cluster-bounded pair join
    "bpe_merge_iterations",     # unrolled merge loop, broadcast 1-row argmax patterns
    "countmin_sketch_tokens",   # bounded-cell sketch agg + broadcast probe join
    "charlm_freq_score",        # bounded-vocab model broadcast onto scoring join
    "jaccard_prefix_filter_pairs",  # PPJoin prefix index + positional prune + verify
    "repeated_span_screen",     # one window on the span key, no self-join
    "dsir_importance_ratio",    # 1024-bucket models broadcast onto scoring join
    "bitmap_exact_distinct",    # segment bitmaps: construct -> or-merge -> count
    "length_bucket_padding",    # exact ntile without a single-partition sort
    "doc_similarity_capped_postings",  # impact-ordered posting truncation + exact verify
    "bm25_ranked_retrieval",    # query-term-pruned postings + broadcast stats + TakeOrdered
    "training_shard_shuffle",   # one hash shuffle, per-shard parallel sorts
    "distribution_drift_psi",   # one scan + bounds broadcast + bucket agg
    "recursive_calendar_spine", # weekly-batched UnionLoop recursion (depth/7)
    "interval_islands_merge",   # two windows + first agg in ONE shuffle
    "timeseries_linear_interpolation",  # spine join + 4 neighbor windows, one sort
    "distribution_moments_skew_kurt",   # exact power sums in one mergeable agg
    "fifo_unit_range_matching",         # cumsum unit-ranges -> co-partitioned overlap join
    "gini_concentration_by_segment",    # rank closed form, no O(n^2) pair join
    "bloom_filter_prune_join",  # <=512-word filter build + broadcast bit-probe
    "pq_adc_topk",              # zero-shuffle HOF argmin encode + broadcast ADC tables
    "theta_sketch_intersection",  # pair algebra on 64-row broadcast sketches
    "weighted_sample_race",     # md5 ticket race + TakeOrderedAndProject, no shuffle
    "spatial_grid_join",        # rect cells broadcast, equi-join on cell, residual containment
    "stratified_sample_exact",  # salted two-level rank, quotas broadcast
    "record_linkage_fs_scoring",  # blocked equi candidate join + integer FS weights
    "join_size_sketch_estimate",  # two 1024-counter sketch aggs + tiny inner product
    "sssp_weighted_frontier",   # bounded Bellman-Ford: relax join + min-agg per round
    # round-5 flagships
    "dtw_alignment_distance",   # anti-diagonal DP as one aggregate() fold
    "matrix_profile_motif",     # ROWS-frame window lists + bounded pair join
    "permutation_test_mean_diff",  # 64 seed-partitioned rank windows in parallel
    "dbscan_grid_core_points",  # 9-offset cell equi-join, exact eps residual
    "token_cooccurrence_lift",  # capped-vocab broadcast prune before pair join
    "position_delete_read",     # position anti join (merge-on-read deletes)
    # round-3 analytics/ML-eval wave flagships
    "cusum_changepoint_screen",  # CUSUM closed form: two windows, one shuffle
    "apriori_frequent_triples",  # level-wise prune: L1/L2 semi-joins + candidate broadcast
    "poisson_bootstrap_ci",      # 64x explode -> ONE partial-agg shuffle to (group, replicate)
    "naive_bayes_lang_eval",     # broadcast model tables onto the test scan + argmax window
    "shapley_channel_attribution",  # per-user bitmask rollup -> 8-row coalition algebra
    "grid_density_clusters",     # cell rollup -> bounded core-cell CC rounds
    "rfm_segmentation",          # distinct-value cumulative frames, no global sort
    "itemitem_collaborative_topk",  # per-user pair join + broadcast norms + TakeOrdered
    # round-7 flagships: the tiered exact-order-statistic device
    "weibull_median_ranks_fit",  # tiered_global_rank: per-tier parallel rank + broadcast offsets
    "latency_percentiles_exact",  # tiered rank + 4-row broadcast percentile probe
    "mad_robust_scale",          # two CHAINED tiered ranks (median, then MAD)
    "sorted_neighborhood_blocking",  # tiered rank + (rank, rank+i) equi-join, no lead window
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from nyc_taxi_data_pipeline_spark.plans.queries import REGISTRY
    from nyc_taxi_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="dump-plans", shuffle_partitions=8)
    out = [
        "# PLANS — executed physical plans of flagship queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. Plans are",
        "captured AFTER execution (AQE final). The audits in",
        "`tests/test_plans.py` pin the properties these plans show.",
        "",
    ]
    for name in FLAGSHIPS:
        q = REGISTRY[name]
        df = q.spark(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().explainString(  # noqa: SLF001
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        first_doc_line = (q.doc or "").strip().splitlines()[0] if q.doc else ""
        out += [f"## {name}", "", first_doc_line, "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
