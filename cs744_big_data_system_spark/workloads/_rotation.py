"""GENERATED by `python tools/attest_rotation.py --write` — do
not edit by hand. The 50-slot attestation window the registry
front must lead with: never-attested entries first, then
stalest-first (oldest successful attestation round), registry
order within a class. Derived from the CORRECTNESS_r*.json
artifacts at the repo root; tests/test_bench_contract.py
asserts the wired front still matches them.

Window classes at generation time: 16 from r06, 34 from r07.
"""

FRONT = [
    "udf_map_in_arrow",
    "stream_dedup_within_watermark_replay",
    "pyds_sink_roundtrip",
    "stream_rocksdb_state_replay",
    "timeseries_interpolate",
    "dynamic_partition_pruning",
    "join_bloom_filter",
    "stream_session_timeout_replay",
    "udtf_analyze",
    "txlog_lifecycle_audit",
    "graph_random_walks",
    "global_row_ids",
    "exact_quantiles_2pass",
    "insert_overwrite_partitions",
    "ml_kfold_cv",
    "ks_test_2sample",
    "global_sort",
    "filter_project",
    "flagship_q3",
    "flagship_q3_sql",
    "flagship_q5",
    "join_inner",
    "join_left_outer",
    "join_semi",
    "join_anti",
    "join_range",
    "collect_list",
    "agg_sums_q1",
    "conditional_agg",
    "argmax",
    "distinct_agg",
    "approx_distinct",
    "topk",
    "set_ops",
    "rollup",
    "cube",
    "grouping_sets",
    "window_ranks",
    "running_sum",
    "lag_lead_ntile",
    "date_funcs",
    "json_funcs",
    "string_funcs",
    "array_funcs",
    "asof_join",
    "explode_tokens",
    "sessionize",
    "graph_multi_bfs",
    "weblog_parse_agg",
    "spatial_join_blocked",
]
