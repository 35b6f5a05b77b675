"""Generate PLANS.md: the physical plans of the headline queries with the
scale-relevant properties annotated — evidence that each plan was inspected
and is the intended one (broadcasts, pushdown, pruning, top-k operator,
no row-wise Python), not just the first one that passed.

    python tools/plans_report.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

HEADLINERS = [
    "q01_pricing_summary",
    "q02_top_nations_by_revenue",
    "q06_top_customers_per_nation",
    "q16_sessionize",
    "q19_top_parts_by_revenue",
    "q25_rollup_revenue",
    "q37_asof_join",
    "q38_range_join",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "q41_cube_returnflag_linestatus",
    "q44_supplier_market_share",
    "q45_gap_fill_hourly",
    "q47_correlated_subqueries",
    "ann_lsh_topk",
    "text_repetition_metrics",
    "q48_returned_item_revenue",
    "q51_large_volume_orders",
    "q52_small_quantity_revenue",
    "q56_event_funnel",
    "q57_cohort_retention",
    "text_tfidf_top_terms",
    "graph_pagerank_topk",
    "ann_quantized_topk",
    "ann_pca_projection",
    "ds_training_order",
    "ds_contamination_check",
    "text_filter_decision",
    "dedup_cluster_star",
    "text_bigram_logprob",
    "ds_epoch_permutation",
    "ds_quality_gate",
    "graph_common_neighbors",
    "q66_interpolate_hourly",
    "ds_repeat_upsampling",
    "multimodal_pair_manifest",
    "ds_bpe_merge_candidates",
    "dq_volume_anomalies",
    "ann_knn_join",
    "ann_semantic_dedup",
    "dedup_minhash_verified",
    "graph_kcore",
    "multimodal_scene_cuts",
    "dq_distribution_drift",
    "q67_trailing_week_revenue",
    "ann_ivf_kmeans_verified",
    "ann_pca_verified",
    "ds_epoch_shards",
    "q28_approx_vs_exact",
    "multimodal_dhash_dedup",
    "q68_scd2_customer_dim",
    "dq_expectation_suite",
    "text_vocab_encode",
    "dedup_lsh_recall",
    "multimodal_resize_thumbnails",
    "q43_rank_distribution",
    "q69_countmin_heavy_hitters",
    "q72_argmax_aggregates",
    "q73_unpivot_metrics",
    "multimodal_vad_segments",
    "q70_jsonl_roundtrip",
    # round 7 additions (i94_pipeline_run / tbl_snapshot_diff return
    # localCheckpoint-ed audit rows — their plans are trivial by design,
    # so their scale properties are pinned in tests, not here)
    "dedup_incremental",
    "multimodal_dedup_decisions",
    "q74_hll_distinct",
    "q75_salted_skew_join",
    "q76_bucketed_join_revenue",
    "q77_grouping_sets",
    "q78_quantile_bins",
    "graph_bfs_layers",
    "dq_key_skew_report",
    "ds_event_sequences",
    "ann_hybrid_rrf",
    "text_bm25_topk",
    "ann_pq_verified",
    "q79_forward_asof_join",
    # round 8 additions
    "q80_bloom_join_prune",
    "graph_shortest_paths",
    "text_bpe_encode",
    "ann_incremental",
    "ann_ivf_pq_verified",
    "q81_hll_grouped_merge",
    "ds_weighted_sample",
    "graph_personalized_pagerank",
    "q82_point_in_time_join",
    "q83_grouped_linreg",
    "q84_kmv_distinct",
    "q85_decayed_revenue",
    "q86_last_touch_attribution",
    "dedup_containment",
    "ds_markov_transitions",
    "graph_resource_allocation",
    "dq_benford_digit_check",
    "q87_skyline_pareto",
    "q88_bitmap_retention",
    "q89_mad_outliers",
    "q90_rolling_distinct",
    "q91_fuzzy_blocking_join",
    "q92_seasonal_anomaly",
    "q93_ab_conversion_ztest",
    "q94_hybrid_skew_join",
    "graph_clustering_coefficient",
    "text_boolean_retrieval",
    "dq_functional_dependency",
    "dedup_survivorship",
    "dedup_ppjoin",
    "q95_intransit_inventory",
    "q96_activity_streaks",
    "text_rake_keywords",
    "q97_window_funnel",
    "ann_nndescent",
    "graph_scc",
    "text_pmi_collocations",
    "q99_relational_division",
    "graph_hits",
    "q100_market_basket_lift",
    "ds_exact_substring_spans",
    "ds_span_removal_report",
    "q101_grouped_quantiles_sketch",
    "graph_louvain",
    "q102_ohlc_bars",
    "q103_interval_overlap_join",
    "q104_frequent_triples",
    "q105_interval_coalesce",
    "q106_time_weighted_average",
    "q107_rolling_volatility",
    "q108_weighted_median",
    "text_levenshtein_pairs",
    "q109_event_path_trigrams",
    "q110_new_vs_returning",
    "q113_gini_by_nation",
    "q114_max_drawdown_by_year",
    "ds_mixture_temperature",
    "q115_top_decile_revenue_share",
    "dq_completeness_by_partition",
    "graph_assortativity",
    "ds_tokenizer_compression_ratio",
    "q116_rfm_segments",
    "q117_order_gap_survival",
    "q118_supplier_hhi_by_nation",
    # round-11 tbl_mutation_occ / tbl_dv_purge_report /
    # tbl_column_mapping_report / tbl_mv_minmax_refresh /
    # tbl_partition_stats_report / tbl_persistent_constraints /
    # tbl_tags_report return localCheckpoint-ed audit rows
    # (OCC/purge/mapping/MV lifecycle properties pinned in tests) and
    # q112_kmv_set_operations returns a driver-assembled single row
    # (its two-stage k-min tournament shape is pinned in
    # tests/test_plans.py) — kept out per the standing rule below.
    # round-10 tbl_concurrent_commits / tbl_log_checkpoint_report /
    # tbl_merge_dv / tbl_metadata_tables / stream_change_feed return
    # localCheckpoint-ed audit rows (OCC/checkpoint/merge-on-read/CDC-pump
    # lifecycle properties pinned in tests) — kept out per the standing
    # rule below.
    # q98_dynamic_partition_pruning returns a localCheckpoint-ed result
    # (its scratch fixture is removed before serve); the dynamicpruning
    # plan shape is pinned live in tests/test_plans.py instead.
    # tbl_incremental_agg / tbl_merge_report / tbl_schema_evolution return
    # localCheckpoint-ed audit rows (trivial plans; COW/evolution shapes
    # pinned in tests) — kept out of the headliners; ditto the round-9
    # tbl_change_feed / tbl_partition_evolution / tbl_wap_publish /
    # tbl_cdc_apply_roundtrip / tbl_deletion_vectors / tbl_shallow_clone /
    # tbl_bloom_index_report / tbl_idempotent_commits /
    # src_jsonl_malformed_report (manifest-diff read scope and
    # WAP/CDC/DV/clone/index/txn lifecycle properties pinned in
    # tests/test_tables.py).
]

SF_DIR = "/root/testdata/sf0.001"


def _auto_extend_headliners() -> None:
    """Append the slowest queries from the newest committed BENCH_r*.json
    (plus any registered query not yet covered that costs >=1s there), so
    new headline queries can't be forgotten by manual-list drift."""
    import glob
    import json
    import os

    rounds = sorted(
        glob.glob(os.path.join(os.path.dirname(__file__), "..", "BENCH_r*.json")),
        key=lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1)),
    )
    if not rounds:
        return
    try:
        with open(rounds[-1]) as f:
            prev = json.load(f).get("queries", {})
    except Exception:
        return
    # stream_* have no batch .explain; these return localCheckpoint-ed
    # audit rows, so their explained plan is trivially Scan ExistingRDD
    skip = {"i94_pipeline_run", "tbl_snapshot_diff", "tbl_skipping_report",
            "tbl_zorder_report", "text_incremental_bm25",
            "tbl_delete_report", "tbl_time_travel"}
    slow = sorted(prev, key=prev.get, reverse=True)
    for name in [n for n in slow[:10] if prev[n] >= 1.0]:
        if name not in HEADLINERS and not name.startswith("stream_") and name not in skip:
            HEADLINERS.append(name)


_auto_extend_headliners()


def props(plan: str) -> list[str]:
    out = []
    n_b = plan.count("BroadcastHashJoin")
    if n_b:
        out.append(f"{n_b} broadcast hash join(s) — small side moves, fact side never shuffles")
    if "SortMergeJoin" in plan:
        out.append("sort-merge join on the fact keys (AQE-managed)")
    if "TakeOrderedAndProject" in plan:
        out.append("TakeOrderedAndProject — per-partition top-k, no global sort")
    pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
    if any(p.strip() for p in pushed):
        out.append("filters pushed to parquet scan")
    if "Expand" in plan:
        out.append("grouping-sets Expand — all rollup grains from one shuffle")
    if "BatchEvalPython" in plan:
        out.append("!! row-wise Python in plan")
    if "ArrowEvalPython" in plan or "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan:
        out.append("Arrow-batched Python stage (vectorized escape hatch)")
    if "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan:
        out.append("!! nested-loop/cartesian join")
    return out


#: queries whose "!!" flag is a deliberate, bounded construct — the note
#: replaces the alarm so a reviewer sees the justification inline.
EXPECTED_FLAGS = {
    "graph_louvain": (
        "the cross join broadcasts the 1-row global-modularity aggregate "
        "onto the <=15-row community report — the tfidf corpus-size "
        "pattern; every per-round move is equi-joins + hash-aggs + a "
        "per-node window"
    ),
    "q100_market_basket_lift": (
        "the cross join broadcasts the 1-row basket-count aggregate onto "
        "the pair table — the tfidf corpus-size pattern; pair generation "
        "itself is the basket-id equi-join"
    ),
    "text_pmi_collocations": (
        "the cross joins broadcast the two 1-row corpus totals (N_uni, "
        "N_bi) onto the pair table — the tfidf corpus-size pattern"
    ),
    "ann_nndescent": (
        "the cross join is the exact-recall GROUND TRUTH pass: the 20-row "
        "query sample broadcasts against the corpus once to flag each "
        "served neighbor — the descent itself is equi-joins + bounded "
        "windows only"
    ),
    "ann_ivf_kmeans_verified": (
        "the cross join's build side is the 4-row broadcast centroid "
        "table (IdentityBroadcastMode over n_cells rows) — bounded by "
        "the codebook size, never by data"
    ),
    "dq_distribution_drift": (
        "the cross join's build side is the 1-row grand-totals aggregate "
        "(bt, ct) broadcast onto the n_buckets-row PSI frame — both sides "
        "bounded by construction"
    ),
    "q45_gap_fill_hourly": (
        "the cross join builds the hour×type spine: one side is the 1-row "
        "min/max bounds aggregate, the other the tiny distinct-type list"
    ),
    "q56_event_funnel": (
        "the cross joins combine three 1-row stage-count aggregates into "
        "the funnel summary row"
    ),
    "text_tfidf_top_terms": (
        "the cross join broadcasts the 1-row corpus-size aggregate (N for "
        "the IDF term) onto the term frame"
    ),
    "ann_quantized_topk": (
        "the cross join is the coarse scoring pass: the 10-row quantized "
        "query set broadcast against candidates — bounded by |queries|, "
        "the documented brute-force-style first stage"
    ),
    "q66_interpolate_hourly": (
        "the cross join builds the hour×event-type spine from the 1-row "
        "bounds aggregate and the tiny type list"
    ),
    "ds_repeat_upsampling": (
        "the cross join broadcasts the 1-row token/unit totals onto the "
        "per-domain frame (one row per source)"
    ),
    "dq_volume_anomalies": (
        "the cross join broadcasts the 1-row integer-moment statistics "
        "onto the day-grain frame"
    ),
    "ann_hybrid_rrf": (
        "the cross join broadcasts the single query doc's token set onto "
        "the lexical tower's candidate frame — one row by construction"
    ),
    "text_bm25_topk": (
        "the cross join broadcasts the 1-row corpus statistics (total "
        "length, N) onto the per-(doc, term) scoring frame"
    ),
    "q74_hll_distinct": (
        "the cross join combines the 1-row register-sum aggregate with "
        "the 1-row exact-distinct aggregate into the report row — both "
        "sides bounded at one row by construction"
    ),
    "q80_bloom_join_prune": (
        "the cross join combines the 1-row fact-total aggregate with the "
        "1-row pruning-stats aggregate into the report row; the probe "
        "itself is a scan-side Filter feeding a broadcast hash join"
    ),
    "ann_ivf_pq_verified": (
        "the cross joins' build sides are the 4-row centroid table and "
        "the 64-row PQ codebook (broadcast) — bounded by codebook sizes, "
        "never by data; the ADC probe joins codes against the broadcast "
        "per-(query, probed-cell) LUT"
    ),
    "q84_kmv_distinct": (
        "the cross joins combine the 1-row sketch-stat aggregates (k-th "
        "min and count per sketch, overlap count, exact counts) into the "
        "single report row — every side bounded at one row by "
        "construction"
    ),
    "q87_skyline_pareto": (
        "the cross join broadcasts the 1-row global price-bounds "
        "aggregate onto the point set to derive the deterministic range "
        "buckets — one row by construction, the alternative to sampled "
        "repartitionByRange"
    ),
    "dedup_lsh_recall": (
        "the cross join IS the exact all-pairs ground truth of the "
        "evaluation — run on the bounded doc_id<200 slice by design; the "
        "report exists precisely because the full corpus cannot afford it"
    ),
}


def main() -> None:
    from data_engineering_nd_spark.plans.inspect import simple_plan
    from data_engineering_nd_spark.registry import QUERIES, load_all_modules
    from data_engineering_nd_spark.session import get_spark

    load_all_modules()
    spark = get_spark(app_name="plans-report")
    lines = [
        "# PLANS — physical plans of the headline queries (sf0.001 shapes)",
        "",
        "Generated by `python tools/plans_report.py`. Properties are",
        "re-checked continuously by tests/test_plans.py; this file is the",
        "human-readable snapshot.",
        "",
    ]
    for name in HEADLINERS:
        df = QUERIES[name](spark, SF_DIR)
        plan = simple_plan(df)
        lines.append(f"## {name}")
        lines.append("")
        for p in props(plan):
            if p.startswith("!!") and name in EXPECTED_FLAGS:
                p = f"OK (expected): {p[3:]} — {EXPECTED_FLAGS[name]}"
            lines.append(f"- {p}")
        lines.append("")
        lines.append("```")
        lines.append(plan.strip())
        lines.append("```")
        lines.append("")
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(HEADLINERS)} queries)")


if __name__ == "__main__":
    main()
