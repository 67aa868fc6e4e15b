"""The two frozen query mixes of the benchmark.

Each mix is an explicit name list, so that registering, renaming or
demoting a query changes a workload only through an edit here. A name
that no longer resolves in the registry runs as a failed op.

``ADHOC_MIX`` holds the dashboard and warehouse queries: every
registered query with none of the tags similarity, pipeline, dedup,
multimodal, graph, textstats, skipping, text, streaming, iterative,
fuzzy, bloom or index. ``CURATION_ITERATIVE`` holds the fixpoint,
connected-components and graph queries whose builders launch most of
their own Spark jobs.
"""

ADHOC_MIX = (
    "x114_bitmap_distinct", "x116_rolling_distinct", "a07_rollup",
    "a08_count_distinct", "j08_range_join", "f10_explode_unnest",
    "w05_ntile_quartiles", "w06_trailing_window", "x96_cohort_ltv",
    "x97_inventory_aging", "x98_abc_pareto", "x102_new_vs_returning",
    "x103_interpurchase_gaps", "x105_ship_sla_monthly",
    "x118_peak_active_orders", "e10_weekly_retention",
    "e11_windowed_conversion", "e12_time_to_convert", "e14_dau_wau_stickiness",
    "x108_revenue_trend", "x110_corr_matrix", "x112_mad_outliers",
    "x119_price_histogram", "x120_weighted_percentiles",
    "x142_inventory_turns", "x143_backlog_aging", "x144_supplier_leadtime",
    "x76_kmv_distinct_customers", "x77_kmv_year_overlap",
    "x78_bottomk_sample_quantiles", "x79_token_heavy_hitters",
    "x80_priority_sample_revenue", "x81_countmin_token_freq",
    "x82_cms_merge_estimates", "x109_hll_distinct", "x87_table_profile",
    "w03_lag_lead_delta", "j09_asof_join", "f09_json_extract",
    "x22_approx_aggs", "a09_pivot", "a10_unpivot", "a11_grouping_sets",
    "w07_percent_rank", "a14_filtered_agg", "a15_median_mode",
    "f12_string_agg", "f13_price_histogram", "q08_market_share",
    "q13_customer_distribution", "q15_top_supplier", "q16_supplier_cnt",
    "q17_small_quantity_revenue", "q20_promo_shippers",
    "q21_sole_returned_supplier", "q22_dormant_customers", "q23_gapfill_daily",
    "q02_min_cost_supplier", "q09_product_profit", "q11_important_stock",
    "q12_late_shipment_priority", "x92_copurchase_lift", "x93_rfm_segments",
    "x94_mom_revenue_growth", "x122_order_to_cash_cycle",
    "x123_supplier_scorecard", "x124_otif_fill_rate",
    "x125_priority_mix_shift", "x126_sla_histogram_percentiles",
    "x127_customer_churn_buckets", "x129_churn_transition_matrix",
    "x130_supplier_otif_trend", "x131_revenue_bridge", "x133_abc_migration",
    "x134_discount_leakage", "x135_seasonality_shift", "x138_supplier_hhi",
    "x140_margin_waterfall", "e01_funnel_steps", "e02_retention_cohorts",
    "e03_event_transitions", "e04_value_heavy_hitters",
    "e05_error_spike_zscore", "e07_funnel_latency", "e08_dau_stickiness",
    "e09_ewma_spike", "e13_last_touch_attribution",
    "e15_session_duration_daily", "e16_error_budget_burn", "a12_cube",
    "a13_percentiles", "e06_value_k_correlation", "x111_cusum_changepoint",
    "x121_gini_concentration", "x91_priority_history", "p01_eq_filter",
    "p02_like_contains", "p03_isin", "p04_range_time", "p05_compound_where",
    "p06_not_empty_string", "p07_bool_projection", "prj01_alias_unicode",
    "prj02_star", "j01_inner_2way", "j02_star_3way", "j03_left_outer",
    "j04_latest_per_key_join", "j05_correlated_max", "j06_semi", "j07_anti",
    "a01_count_total", "a02_count_threshold", "a03_max_per_group",
    "a04_distinct", "a05_bool_and_gate", "a06_lastn_conditional",
    "w01_topk_per_group", "w02_running_sum", "o01_top10_orders",
    "o02_multikey_page", "o03_latest_row", "set01_union", "set02_except",
    "set03_intersect", "f01_split_array_ops", "f02_regexp_extract",
    "f03_multiformat_dates", "f04_date_format_parts", "f05_tz_shift_interval",
    "f06_hashes", "f07_coalesce_fallback", "f08_string_ops", "f11_array_hof",
    "q01_pricing_summary", "q03_shipping_priority", "q05_region_revenue",
    "q06_shop_day_rollup", "t01_dashboard_listing", "q04_priority_exists",
    "q10_returned_items", "q07_nation_volume", "q14_promo_effect",
    "q18_large_orders", "q19_disjunctive_revenue", "j10_salted_skew_join",
    "j11_salted_hotkeys_join",
)

CURATION_ITERATIVE = (
    "x104_image_dup_clusters", "x47_curated_corpus", "x49_multimodal_curated",
    "x115_triangle_clustering", "x117_bfs_levels", "x29_dup_clusters",
    "x46_dedup_verdict", "x69_cluster_size_histogram", "x70_source_league",
    "x58_curation_funnel", "x85_pagerank_trade_graph",
    "x88_incremental_dup_clusters", "x90_entity_clusters",
)


# The queries each run times, in this order. Every run times the same
# queries in the same order, so that runs with different seeds measure
# the same work. The adhoc set holds the headline q01, the sketch
# queries x76, x81 and x82 that carry the ADVISORY_COALESCE pins and
# x87's multi-job profile, plus every 18th remaining query (from the
# 2nd) in order of first-run cost at sf0.1 on 4 cores, plus four queries
# near the mix's median cost (among them x108, the fourth pinned sketch
# query), which keep the median of a run's op times from falling into
# a gap between two cost bands. It takes about 22 s in a fresh JVM. The curation set is the two core kernels a
# fixpoint rewrite ports, connected components (x29) and PageRank (x85);
# each of BFS (x117) and cc_merge (x88) would add 5-9 s per run.
TIMED = {
    "adhoc_mix": (
        "q01_pricing_summary", "p03_isin", "x76_kmv_distinct_customers",
        "a10_unpivot", "q19_disjunctive_revenue", "x81_countmin_token_freq",
        "e02_retention_cohorts", "e09_ewma_spike", "x87_table_profile",
        "q08_market_share", "x97_inventory_aging", "x82_cms_merge_estimates",
        "q05_region_revenue", "x108_revenue_trend", "j05_correlated_max",
        "a12_cube",
    ),
    "curation_iterative": (
        "x29_dup_clusters", "x85_pagerank_trade_graph",
    ),
}

# The untimed warm-up before the window: cheap queries of the same mix
# that load the code paths the timed set uses. In a fresh JVM the adhoc
# warm-up takes about 5 s, the curation one (a first connected-
# components run) about 8 s.
WARMUP = {
    "adhoc_mix": (
        "x140_margin_waterfall", "f11_array_hof", "x125_priority_mix_shift",
        "a14_filtered_agg", "q15_top_supplier", "e13_last_touch_attribution",
        "a08_count_distinct",
    ),
    "curation_iterative": ("x90_entity_clusters",),
}

MIXES = {"adhoc_mix": ADHOC_MIX, "curation_iterative": CURATION_ITERATIVE}
