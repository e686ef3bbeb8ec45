"""Regenerate EXPLAINS.md from live query plans (run from the repo root)."""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wheels_in_motion_analytics_spark.session import get_session
from wheels_in_motion_analytics_spark.registry import load_all_queries

PICKS = [
    ("star_join_enriched", "all dims broadcast; single agg Exchange"),
    ("scan_parquet_project", "filter + projection pushdown into the scan"),
    ("agg_stats_suite", "partial+final hash aggregate"),
    ("asof_join_last_signup", "one key shuffle + running window, no range join explosion"),
    ("dedup_minhash_lsh", "explode -> hash-agg signature -> banded self-join"),
    ("similarity_topk_bruteforce", "block-nested-loop matmul cells, collect-free"),
    ("band_join_price_buckets", "BroadcastNestedLoopJoin over 3-row band table"),
    ("window_running_sum", "single window pass after one key Exchange"),
    ("pricing_summary_report", "Q1 shape: scan -> partial agg -> 9-group final (map-side combine)"),
    ("sessionize_events", "one user_id Exchange feeds lag window, running sum AND session agg"),
    ("embedding_group_centroids", "posexplode -> partial+final (label,pos) hash agg"),
    ("orc_roundtrip_agg", "date filter + column pruning pushed into the ORC scan"),
    ("forecast_revenue_change", "Q6 shape: scan-only, all predicates pushed, one 1-row agg Exchange"),
    ("local_supplier_volume", "Q5 shape: fact joins shuffle (no hint), dims broadcast"),
    ("sole_failing_supplier", "Q21 shape: EXISTS/NOT-EXISTS decorrelated into one per-order agg"),
    ("pagerank_part_supplier", "iterative PageRank: per-iteration join+agg over checkpointed edges"),
    ("temporal_point_in_time_join", "SCD2 point-in-time join as union-tag window pass"),
    ("countmin_frequency_estimate", "CMS build: one groupBy over (row,bucket) cells"),
    ("sql_pipe_syntax_report", "pipe dialect compiles to the ANSI plan: pushed filter, partial+final agg"),
    ("pagerank_part_supplier", None),  # dedup below replaces stale entry
]
# session-5 headliners
PICKS += [
    ("spatial_radius_join", "grid-cell equi-join, no CartesianProduct, exact int distance filter"),
    ("bloom_join_prune_audit", "broadcast bit-set probe before any fact shuffle"),
    ("triangle_count_cosupply", "degree-oriented wedge join + closure semi-join"),
    ("hybrid_rrf_retrieval", "two TakeOrderedAndProject rank lists fused by one full outer join"),
    ("rolling_features_customer", "ONE customer Exchange serves all four frames"),
    ("dedup_prefix_filter_jaccard", "prefix-pruned posting join + per-row array-intersect verify"),
]
# round-3 headliners
PICKS += [
    ("ann_ivf_cells", "broadcast 16-row centroid relation -> rank window -> hash-join candidates -> join-back re-rank"),
    ("linreg_normal_equations", "ONE partial+final aggregate builds the whole moment matrix; no joins/sorts"),
    ("bitmap_distinct_rollup", "bitmap aggregate pairs at each rollup level; no Expand-based distinct"),
    ("inverted_index_lookup", "PartitionFilters prune to query-term prefixes of the postings index"),
    ("embedding_covariance_matrix", "mapInPandas int64 outer-product partials -> 4096-cell reduce"),
    ("seasonal_decompose_daily", "daily-grain RANGE window + broadcast seasonal join"),
    ("multimodal_features", "JVM md5 fixture synthesis -> Arrow batch decode in mapInPandas"),
]
# round-4 session-4 headliners
PICKS += [
    ("skyline_pareto_parts", "level collapse -> two-phase prefix max (range partition + offsets) -> join-back; no single-task sort"),
    ("pq_encode_reconstruction_error", "128-row broadcast codebook join -> min-struct partial agg -> nibble-pack projection"),
    ("semdedup_cluster_prune", "broadcast centroid assign -> within-cell hash self-join -> norm join-back; never corpus all-pairs"),
]
# session-6 headliners
# round-5 headliners
PICKS += [
    ("spearman_rank_correlation", "two-phase ranks; quantity ranks broadcast, one price-rank shuffle join; corrected-isqrt rho_ppm in-plan"),
    ("acf_daily_revenue", "day-grain partial+final agg -> 7-row broadcast lag fan-out -> one bounded join; exact decimal moments"),
    ("bootstrap_ci_revenue_poisson", "round-robin exchange BEFORE the 32x replica fan-out; B-group partial agg; 32-row window"),
    ("wau_sliding_distinct_users", "distinct user-days -> per-user island windows -> +-1 deltas -> two-phase prefix sum over the day axis"),
    ("inventory_balance_clamped", "clamped cumsum closed form: one part Exchange serves prefix-sum AND running-min windows"),
    ("join_strategy_hints_suite", "same join under BROADCAST / MERGE / SHUFFLE_HASH hints - three physical strategies in one plan"),
]
PICKS += [
    ("dpp_join_pruned_revenue", "dynamicpruningexpression in PartitionFilters — runtime dim prunes the fact scan"),
    ("bpe_train_symbol_freqs", "BPE round over the vocab relation: explode pairs -> partial+final agg"),
    ("bpe_encode_token_counts", "dictionary-encode apply: corpus words hash-join the tokenized vocab"),
    ("mann_whitney_u_prices", "rank stats via two-phase exact prefix sums - no single-task window"),
    ("feature_binning_buckets", "distributed exact ntile: range-partitioned rank, no SinglePartition stage"),
    ("approx_revenue_sampled", "md5 sample filter evaluated in-scan; single partial+final agg"),
    ("embedding_contrastive_pairs", "batch-bucketed self-join (sum-of-squared-batch pair space)"),
    ("sft_render_conversations", "per-user turn window + JVM-side array render, one key shuffle"),
    ("rlhf_preference_pairs", "two key-partitioned windows (source; source x pair), no global state"),
]
PICKS += [
    ("dedup_lines_crossdoc", "segment posexplode -> map-side-combinable df agg -> one hash join-back -> order-proof array_sort reassembly"),
    ("twap_daily_by_type", "group-bounded lead window (event_type x day partitions) -> one DECIMAL(38,0) moment agg; no global sort"),
    ("record_linkage_canonicalize", "CC fixpoint on the distinct-name dictionary; min(struct(-support,name)) representative, no window"),
]
# round-5 session-3 headliners
PICKS += [
    ("decision_stump_best_split", "GBDT histogram algorithm: ONE 256-bin partial+final agg over the fact scan; split argmax on the bin relation"),
    ("auc_rank_ppm", "AUC via two-phase exact prefix sums over the distinct-score relation; integer doubled ranks, no per-row rank"),
    ("key_skew_profile", "per-key partial+final count -> two-phase Gini rank -> 1-row broadcast argmax join-back"),
    ("label_propagation_communities", "4 synchronous Pregel rounds: edges join + (node,label) partial agg + per-node argmax window"),
    ("ndcg_at_k_retrieval", "two TakeOrderedAndProject heaps (system/ideal top-10) over one checkpointed candidate relation"),
]
# round-6 headliners
PICKS += [
    ("runtime_bloom_filter_join", "Catalyst-injected bloom: might_contain pushed into the probe-side scan before the shuffle join"),
    ("mmr_diversified_topk", "broadcast relevance pass -> TakeOrderedAndProject heap top-24; greedy selection on LIMIT-bounded bytes"),
    ("zipf_token_rank_slope", "explode -> vocab agg -> two-phase exact rank -> ONE DECIMAL moment agg over the top-1000 grid"),
    ("gbdt_two_round_regression", "two boosting rounds: bounded-domain (n,Σr) aggs + broadcast residual update, no row-scale shuffle"),
    ("graph_node_jaccard_similarity", "mirrored adjacency wedge join for candidates; degree attach joins; heap top-20"),
    ("sprt_sequential_test", "frozen nano-ln literals; two-phase prefix-sum LLR walk; min(struct) first crossing"),
    ("conformal_interval_calibration", "radix-selection histogram rounds for the exact quantile + one coverage agg over the checkpointed residuals"),
    ("ann_recall_at_k_eval", "blocked exact matmul cells vs bucketed LSH, one (query,neighbor) join + single agg"),
    ("feature_store_training_set", "PRECEDING-only frames: ONE customer Exchange serves lifetime + 90d-range + lag features"),
    ("binseg_two_level_changepoints", "one prefix relation; every segment statistic is arithmetic over it, three max(struct) picks"),
]
# round-6 session-2 headliners
PICKS += [
    ("kruskal_wallis_priority", "distinct-value relation -> two-phase prefix sum -> ONE grid-integer H evaluation"),
    ("hits_hubs_authorities", "unrolled mutual-reinforcement rounds over one checkpointed edge relation; 1-row max normalizers"),
    ("ktruss_cosupply_peel", "per-round wedge-join support over a shrinking checkpointed edge set; fixpoint early exit"),
    ("dbscan_core_border_noise", "grid-cell candidate self-join (no CartesianProduct); one pair relation feeds count + core check"),
    ("isotonic_calibration_pav", "bin-bounded minimax: interval join + min/max aggs, constant work at any data scale"),
    ("session_window_builtin_batch", "engine-native SessionWindow aggregate: one (user, session) Exchange"),
    ("lift_curve_deciles", "two-phase exact ntile -> 10-row decile relation -> broadcast totals"),
    ("permutation_test_segment_revenue", "repartitioned base -> B-row broadcast fan-out -> one map-side-combinable replica agg"),
]
# the vector-search family on the shared core (hyperplane_buckets,
# _exact_cosine_rerank, cosine_topk, cell_ranks, _adc_lut)
PICKS += [
    ("ann_lsh_bucketed", "checkpointed hyperplane buckets -> (tbl,bucket) self-join -> join-back re-rank -> mirrored top-1"),
    ("ann_multiprobe_lsh", "XOR probe set broadcast onto the (tbl,bucket) hash join -> join-back re-rank -> top-3"),
    ("ann_ivf_pq_search", "checkpointed cell ranks -> probe/assign hash join -> PQ codes join -> broadcast LUT join -> top-3"),
]
# partitioned_sink_pruned_read deliberately NOT picked: its result is
# localCheckpoint'd (temp-dir cleanup), so the captured plan is a lineage-cut
# Scan ExistingRDD; the pruning property is pinned by
# tests/test_sinks.py::test_k4_registry_query_prunes_partitions instead.
PICKS = [(n, d) for n, d in PICKS if d is not None]
seen = set()
PICKS = [x for x in PICKS if not (x[0] in seen or seen.add(x[0]))]


def main() -> None:
    spark = get_session("explains", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all_queries()
    sf = "/root/testdata/sf0.001"
    out = [
        "# Physical plans of headline queries (sf0.001, AQE on)",
        "",
        "Generated by `python tools/gen_explains.py`; asserted invariants live in",
        "`tests/test_plan_shapes.py`. `*(n)` prefixes mark whole-stage codegen.",
        "",
    ]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name, why in PICKS:
        df = specs[name].fn(spark, sf)
        plan = df._jdf.queryExecution().explainString(mode)
        head = plan.split("\n\n")[0]
        out.append(f"## {name}\n\n_{why}_\n\n```\n{head}\n```\n")
    with open("EXPLAINS.md", "w") as f:
        f.write("\n".join(out))


if __name__ == "__main__":
    main()
