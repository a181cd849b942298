"""The names registry.collect() puts first: the round driver
verifies the first 50 registry entries.

Generated by tools/driver_ledger.py from CORRECTNESS_r*.json; do not
edit by hand. Order: never driver-verified queries, then by last green
driver round (oldest first), then registry order.
"""

DRIVER_FRONT: tuple[str, ...] = (
    "approx_distinct", "window_running", "approx_percentiles", "tpch_q7",
    "tpch_q18", "map_funcs", "agg_collect", "asof_join_pandas",
    "range_join", "asof_join_nearest", "dedup_exact", "dedup_fingerprint",
    "dedup_simhash", "dedup_embedding_pairs", "dedup_edit_distance",
    "embedding_stats", "knn_bruteforce_numpy", "bloom_build", "sample_hash",
    "text_tokens", "text_quality", "text_langid", "text_fingerprint",
    "text_chunking", "multimodal_manifest", "multimodal_features",
    "multimodal_frames", "mix_sample_by_source", "decontaminate",
    "stream_tumbling", "stream_sliding", "stream_session", "sessionize_lag",
    "date_spine", "stream_json", "stream_json_typed",
    "attribution_last_touch", "rolling_user_features", "ewma_user",
    "rollup_hypertable", "winsorize", "histogram_fixed_width",
    "bootstrap_ci", "cumulative_distinct_users", "path_3grams",
    "pit_training_join", "grouped_linear_fit", "ab_test_ttest",
    "mr_job_chain", "mr_user_job",
)
