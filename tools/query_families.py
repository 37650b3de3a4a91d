"""Query-name lists shared by ``bench.py`` and ``tools/bench_compare.py``.

Standard library only, so comparing two bench JSON files never imports
pyspark or the query registry; ``bench.py`` re-exports both names.
"""

from __future__ import annotations

# Canary-correction family per query, by EXPLICIT name (r15 ADVICE: a
# substring heuristic like "'acid' in name" silently misclassifies
# future registrations — t_streaming_dml_replica is an ACID feed twin
# whose cost is commit-protocol scratch-fs latency despite its name).
# Everything not listed here is corrected by the pure-CPU canary;
# tools/bench_compare.py reads this from the emitted JSON
# ("canary_families") and only falls back to this list for pre-r16
# bench files.
IO_BOUND_QUERIES = frozenset({
    "t_streaming_acid_changes",
    "x_acid_incremental_mv",
    "t_streaming_dml_replica",
    "x_acid_dml_lifecycle",
    "x_acid_merge_sql",
    "x_acid_replica_convergence",
    "x_acid_restore_rewind",
    "x_acid_sized_compaction",
    "x_acid_stats_skipping",
    "x_acid_time_travel_diff",
})

# Named A/B families for --families (r15 verdict #8): re-run ONLY a
# disputed family without the ~60-commit ACID replay dominating wall
# time. Every benched query must belong to exactly one family
# (tests/test_tools.py pins the partition against bench_queries()).
QUERY_FAMILIES: dict[str, frozenset[str]] = {
    "core": frozenset({
        "j1_enrichment_join", "unhappy_vip_customers",
        "a2_a3_windowed_collect", "t4_session_5m_counts",
    }),
    "tpch": frozenset({
        "h1_pricing_summary", "h2_min_acctbal_supplier",
        "h3_top_revenue_orders", "h4_late_shipment_priority",
        "h5_nation_revenue", "h7_volume_shipping",
        "h10_returned_item_revenue", "h14_promo_revenue_share",
        "h16_supplier_part_breadth", "h18_large_volume_customers",
        "h21_waiting_supplier", "h22_dormant_customers",
        "h_window_cumulative_revenue",
    }),
    "dedup": frozenset({
        "x_dedup_exact", "x_dedup_jaccard", "x_dedup_minhash_lsh",
        "x_dedup_simhash", "x_dedup_embedding_lsh",
    }),
    "ann": frozenset({"x_ann_topk_blocked"}),
    "acid": frozenset({"t_streaming_acid_changes", "x_acid_incremental_mv"}),
    "sketch": frozenset({"x_sketch_kmv_setops", "x_sketch_kmv_rollup"}),
    "curation": frozenset({
        "x_text_quality", "x_quality_gopher_rules",
        "x_text_bigram_logprob", "x_window_sliding_stats",
        "x_multimodal_pixel_stats", "x_quality_threshold_sweep",
        "x_events_key_skew_profile", "x_pipeline_domain_quota",
    }),
}
