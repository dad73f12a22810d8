"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line with per-query wall times.

Protocol mirrors the reference's (BASELINE.md): run each query
repetitions+1 times, discard the first (warm-up/JIT), report the mean
of the rest (assignment2/part1/main.py:48-53 discard-first protocol).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cs744_big_data_system_spark.session import get_spark
from cs744_big_data_system_spark.workloads import all_workloads

#: Headline queries: the flagship + one per operator family, weighted
#: toward the shuffle/join/agg-heavy ones that dominate at scale.
HEADLINE = [
    "flagship_q3",
    "flagship_q5",
    "global_sort",
    "agg_sums_q1",
    "join_inner",
    "join_left_outer",
    "window_ranks",
    "sessionize",
    "window_tumbling",
    "dedup_exact",
    "dedup_minhash_sig",
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "sim_cosine_topk",
    "sim_cosine_topk_ivf",
    "percentile",
    "approx_percentile",
    "join_full_outer",
    "text_quality",
    "label_mean_embedding",
    "pagerank_events",
    # round-2 heavies: regression visibility round-over-round
    "events_funnel",
    "events_retention",
    "text_tfidf_bm25",
    "text_pmi_cooccurrence",
    "llm_clean_corpus",
    "dedup_embedding_cosine_lsh",
    # same synthetic graph, both regimes (the crossover pair)
    "pagerank_synthetic",
    "pagerank_synthetic_broadcast",
    # round-2 continuation: training-pipeline + graph kernels
    "pii_redact",
    "seq_pack_chunks",
    "graph_triangles",
    "flagship_q18",
    "text_perplexity_filter",
    # round-3: warehouse/CDC + layout + graph/stream additions
    "merge_upsert",
    "scd2_history",
    "topk_per_group_salted",
    "timeseries_gapfill",
    "zorder_layout",
    "graph_bfs_hops",
    "tpch_q9",
    # round-3: the remaining heavy never-benched queries (multi-shuffle
    # market-basket, five-scan profile, windowed reach/transitions, HLL
    # sketch rollup) + the new conv-training and LSH-oracle paths
    "basket_affinity",
    "table_profile",
    "cumulative_reach",
    "event_transitions",
    "hll_rollup",
    "dedup_minhash_lsh",
    "sim_cosine_topk_lsh",
    "ml_cnn_fit",
    "chunk_documents",
    "table_diff",
    "synthdocs_profile",
    "graph_bfs_sql",
    "tpch_q21",
    # the reference's own headline metric family is training s/iter
    # (BASELINE.md: DDP 0.870 s/iter on VGG-11/4 nodes); ml_mlp_fit is
    # the engine's data-parallel analogue — 10 supersteps per run, so
    # bench-time/10 gives the comparable per-iteration figure.
    "ml_mlp_fit",
    # round-3 session additions: substring-span dedup (positional
    # shingles + interval merge), PQ ANN (code scan + ADC), count-min
    # heavy hitters (bounded-state sketch), weighted SSSP relaxation
    "dedup_substring",
    "sim_cosine_topk_pq",
    "cms_heavy_hitters",
    "graph_sssp",
    "graph_label_propagation",
    "kmv_distinct",
    "anomaly_zscore",
    "stream_cms_replay",
    "ml_tree_split",
    "ml_linear_gd",
    "ml_logreg_gd",
    "events_ewma",
    "txlog_time_travel",
    "stream_txlog_ingest",
    "udf_cogroup_asof",
    "variant_extract",
    # round-3 continuation: lakehouse-ops batch (DQ audit scan+anti-join,
    # windowed attribution, two-level interval sweep, path mining)
    "dq_checks",
    "attribution_last_touch",
    "peak_concurrency",
    "session_path_topk",
    "ml_naive_bayes",
    "feature_hash_bow",
    "stream_attribution_replay",
    "item_cf_topk",
    "graph_hits",
    "survival_km",
    "ab_test_zstat",
    "changepoint_ph",
    "kmv_jaccard",
    "graph_modularity",
    "attribution_linear",
    "udf_grouped_arrow",
    "attribution_ushaped",
    "seasonality_dow",
    "revenue_gini",
    "forecast_backtest",
    # round-4 session additions: asymmetric containment near-dup (the
    # third shingle self-join beside jaccard/substring) + the split
    # audit scan
    "dedup_containment",
    "train_test_split",
    "stream_minhash_dedup_replay",
    # round-4 continuation: SemDeDup (kmeans cells + cosine prune),
    # the bucketed co-located join (inline bucketed write + zero-
    # exchange SMJ), and the one-row Zipf corpus gauge
    "dedup_semantic",
    "bucketed_join_agg",
    "zipf_fit",
    # round-4 continuation, second batch: export/quality/selection ops,
    # the embedding dim-reduction trio, and the real-decode image dedup
    "shard_export",
    "text_gopher_rules",
    "dsir_weights",
    "embedding_random_projection",
    "embedding_covariance",
    "embedding_pca",
    "image_neardup_phash",
    "text_winnowing",
    "hard_negatives",
    "k_anonymity_audit",
    "udf_cogroup_arrow",
    "table_transpose",
    "sql_scripting",
    "xml_roundtrip_sort",
    "txlog_stats_skipping",
    "ann_recall_eval",
    "corpus_drift_kl",
    "text_novelty",
    "embedding_frechet",
    "dedup_clusters",
    "dedup_keep_best",
    "bloom_decontaminate",
    "entity_match_pairs",
    "inverted_index",
    "bitext_margin_mining",
    "dedup_recall_eval",
    "cdc_apply",
    "temperature_resample",
    "quality_classifier_nb",
    "graph_personalized_pagerank",
    "stream_cdc_replay",
    # round-5 additions
    "dedup_incremental",
    "retrieval_ndcg",
    "graph_clustering_coeff",
    "skyline_2d",
    "graph_link_prediction",
    "data_card_report",
    "stream_data_card_replay",
    "scd2_asof_lookup",
    "quantile_drift_psi",
    "sql_pipe_syntax",
    "dedup_cluster_stats",
    "audio_frame_features",
    # late-round-5 additions (curation3)
    "sql_recursive_cte",
    "timeseries_ohlc",
    "interval_overlap_join",
    "bm25_search_topk",
    "parquet_schema_evolution",
    "stream_upsert_sink_replay",
    "stream_state_inspect",
    "video_frame_sample",
    "gdpr_erase",
    "cbo_join_reorder",
    "stream_progress_metrics",
    "cohort_revenue_matrix",
    "ps_frontend_agg",
    "sql_table_function",
    "string_collation",
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
    "graph_multi_bfs",
    # round-5 final batch (curation5)
    "weblog_parse_agg",
    "spatial_join_blocked",
    "decision_stump_fit",
    "column_entropy_profile",
    "bootstrap_ci",
    "mode_impute",
    # round-5 diagnostics batch (curation6)
    "skew_report",
    "graph_connected_components",
    "robust_outlier_mad",
    "segmented_ab_welch",
    "table_checksum_audit",
    # round-5 closing batch (curation7)
    "attribution_shapley",
    "join_null_safe",
    "set_ops_bag",
    "ivm_agg_maintenance",
    "aqp_sample_estimate",
    "merkle_bucket_diff",
    "stream_ivm_replay",
    "merkle_row_repair",
]


def time_query(fn, spark, sf_dir, reps: int = 2) -> float:
    """Mean of ``reps`` timed runs after one discarded warm-up. Queries
    whose FIRST TIMED rep lands under 3 s get ONE extra timed rep: at
    the 1-2 s scale a single scheduler/GC hiccup moves a 2-rep mean by
    >1.5x (measured: the r06 pre/post runs flagged two disjoint
    'regression' sets of ~1 s queries on identical code), while the
    extra rep costs ~1 s against the stability it buys. Heavy queries
    keep reps low — their signal-to-noise is already fine. (ADVICE r06:
    the trigger must NOT use the warm-up time — it includes planning /
    JIT, so a >3 s-warm-up ~1 s-steady query — exactly the noisy class
    — would get no extra rep.)"""
    times = []
    df = None
    i = 0
    while i < reps + 1:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        # noop sink: computes EVERY output column and keeps sorts —
        # count() would let Catalyst prune projections and eliminate
        # orderBys, timing less work than the query declares.
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
        # Full driver-side GC BETWEEN reps of HEAVY queries, outside
        # the timed window — the r07 per-query GC (below) extended to
        # rep granularity where it matters. r12 evidence:
        # bloom_decontaminate's intermittent 10-35 s mode (and
        # dedup_semantic's r11 35 s row) reproduced SOLO as monotonic
        # rep-over-rep degradation on identical stages (rep0 9 s total
        # task CPU -> rep5 305 s runtime / 211 s CPU on the same
        # 1.6 MB shuffle), cleared completely by a full GC between reps
        # (un-paced solo probes hit 12-52 s reps; GC-paced hold
        # 3.0-3.3 s flat). Gated on the warm-up time because the first
        # unconditional version measurably inflated ~30 SUB-second
        # rows by a consistent +0.1-0.2 s each (two full-suite runs) —
        # small reps don't accumulate enough garbage to degrade, so
        # they keep the r07 per-query-only pacing. The GC runs after
        # the clock stops either way.
        if times[0] > 2.0:
            spark.sparkContext._jvm.System.gc()
        if i == 1 and times[1] < 3.0:
            reps += 1
        i += 1
    # Iterative operators (pagerank) persist a loop-invariant table and
    # expose it as cached_links; all reps share the one cache entry
    # (CacheManager dedupes by plan), so release it here to keep a long
    # bench session from accumulating blocks.
    for attr in ("cached_links", "cached_nodes"):
        cached = getattr(df, attr, None)
        if cached is not None:
            cached.unpersist()
    # Iterative queries leave localCheckpoint blocks behind until the
    # driver GC lets the ContextCleaner reap them; across a 60+-query
    # session the backlog grows until the block manager churns (BFS
    # benched 2s vs 14-20s spikes without this). One driver-side GC per
    # query keeps the harness measuring the query, not the backlog.
    spark.sparkContext._jvm.System.gc()
    return sum(times[1:]) / len(times[1:])


def calibration_probe(spark) -> dict[str, float]:
    """Host-health denominator (VERDICT r06 item 2): two PINNED
    micro-ops timed before the suite so every bench artifact carries
    its own evidence of host condition — BENCH_r06's 337.8 s driver
    run (vs 227.0 s on identical code) was an I/O-contended host and
    needed a judge re-run to adjudicate; with the probe, the ratio
    between two runs' probe values separates host degradation from
    code regressions inside the artifact itself.

    * ``cpu``: fixed arithmetic over 2^30 ids on all 32 cores — pure
      whole-stage-codegen JVM work, no I/O, no shuffle. Degrades with
      CPU contention / thermal throttling.
    * ``io``: 512 write+fsync+rename cycles of 4 KiB files — the
      syscall pattern of streaming-checkpoint commits, the exact class
      (checkpoints, tx-log writes, insert-overwrite) that spiked 1.9-10×
      on the degraded r06 host while CPU-bound queries held.
    * ``floor``: one pinned sub-second shuffle job (range → groupBy →
      count over 32 tasks) — the scheduler/stage-overhead floor that
      dominates sub-second queries. r09 observed windows where this
      floor sat ~2× above a prior run's WITH cpu/io probes reading
      healthy (two healthy-probe runs gated disjoint sub-second sets,
      worktree A/B showed identical code equally elevated); this probe
      puts that third host dimension in the artifact. Evidence-only in
      bench_compare — it is printed, never used to forgive a gated row.

    min-of-2 after a warm-up: the minimum is the robust statistic for
    "what the host can do", which is what a denominator needs.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    def cpu_once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 1 << 30, 1, 32).select(
            F.sum(F.col("id") % 1000003).alias("s")
        ).collect()
        return time.perf_counter() - t0

    cpu_once()  # warm-up (codegen/JIT)
    cpu = min(cpu_once() for _ in range(2))

    def io_once() -> float:
        d = tempfile.mkdtemp(prefix="bench_ioprobe_")
        try:
            t0 = time.perf_counter()
            for i in range(512):
                p = os.path.join(d, f".tmp{i}")
                with open(p, "wb") as f:
                    f.write(b"x" * 4096)
                    f.flush()
                    os.fsync(f.fileno())
                os.rename(p, os.path.join(d, f"commit{i}"))
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(d, ignore_errors=True)

    io_once()  # warm-up (page cache / dentry state)
    io = min(io_once() for _ in range(2))

    def floor_once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 1_000_000, 1, 32).groupBy(
            (F.col("id") % 101).alias("k")
        ).count().collect()
        return time.perf_counter() - t0

    floor_once()  # warm-up (exchange codegen)
    floor = min(floor_once() for _ in range(2))
    return {"cpu": round(cpu, 4), "io": round(io, 4), "floor": round(floor, 4)}


def archive_detail(detail: dict, sf: float) -> str:
    """Write an immutable content-addressed copy of the detail artifact
    under bench_history/. BENCH_DETAIL_sf{sf}.json is a single mutable
    slot that both the round driver and the builder write — r09 and r10
    each opened with a round's run silently clobbered by the other's
    (VERDICT r09/r10 bookkeeping item). The hash-named copy means no
    run is ever lost to an overwrite; identical reruns dedupe to the
    same file. No timestamps: content-addressing keeps this
    deterministic and rerun-stable."""
    import hashlib

    blob = json.dumps(detail, sort_keys=True).encode()
    # 24 hex chars = 96 bits: collision odds are negligible, but a
    # truncated digest colliding would silently drop a run (ADVICE r10)
    # — so on path-exists also verify the contents actually match, and
    # write a suffixed copy if they somehow don't.
    digest = hashlib.sha256(blob).hexdigest()[:24]
    hist_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_history"
    )
    os.makedirs(hist_dir, exist_ok=True)
    # r04-r10 archives used a 12-char digest; dedupe against a legacy
    # name rather than re-archiving the same run under the longer one
    legacy = os.path.join(
        hist_dir, f"BENCH_DETAIL_sf{sf}_{digest[:12]}.json"
    )
    if os.path.exists(legacy):
        with open(legacy) as f:
            if json.load(f) == detail:
                return legacy
    path = os.path.join(hist_dir, f"BENCH_DETAIL_sf{sf}_{digest}.json")
    if os.path.exists(path):
        with open(path) as f:
            existing = json.load(f)
        if existing == detail:
            return path  # identical rerun — dedupe
        suffix = 1
        while os.path.exists(
            alt := os.path.join(
                hist_dir, f"BENCH_DETAIL_sf{sf}_{digest}-{suffix}.json"
            )
        ):
            with open(alt) as f:
                if json.load(f) == detail:
                    return alt
            suffix += 1
        path = alt
    with open(path, "w") as f:
        json.dump(detail, f, indent=1)
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0  # path merely contains 'sf' (e.g. /data/sf_full)
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    probe = calibration_probe(spark)

    reg = all_workloads()
    per_query: dict[str, float] = {}
    for name in HEADLINE:
        fn, _ = reg[name]
        per_query[name] = round(
            time_query(fn, spark, sf_dir), 4
        )

    total = round(sum(per_query.values()), 4)
    # The driver captures only the LAST ~2000 chars of stdout and parses
    # the final JSON line (BENCH_r03's `parsed: null` was a 91-query line
    # overflowing that window). So: full per-query detail goes to a side
    # file AND an early stdout line; the FINAL line is a compact summary
    # guaranteed to fit — metric/value/sf plus only the slowest queries.
    detail = {
        "metric": "headline_suite_mean_sec_per_query_sum",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "probe": probe,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_DETAIL_sf{sf}.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    archive_detail(detail, sf)
    print(json.dumps(detail))
    print(summary_line(per_query, total, sf, os.path.basename(detail_path), probe))
    spark.stop()


def summary_line(
    per_query: dict[str, float],
    total: float,
    sf: float,
    detail_file: str,
    probe: dict[str, float] | None = None,
) -> str:
    """The driver-facing final line: compact enough to always fit the
    tail-capture window (tests pin < 1900 chars for the full suite)."""
    slowest = dict(
        sorted(per_query.items(), key=lambda kv: kv[1], reverse=True)[:12]
    )
    return json.dumps(
        {
            "metric": "headline_suite_mean_sec_per_query_sum",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "n_queries": len(per_query),
            # host-health denominator: pinned CPU + checkpoint-I/O
            # micro-ops timed before the suite (see calibration_probe)
            "probe": probe or {},
            "queries": slowest,
            "detail_file": detail_file,
        }
    )


if __name__ == "__main__":
    main()
