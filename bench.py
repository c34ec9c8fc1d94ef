"""Benchmark harness: runs the engine's headline queries and prints a tiny,
CONSTANT-SIZE final JSON line ``{"metric": "headline_queries_total",
"value": total_sec, "unit": "sec", "sf": ..., "n_queries": N}``.

The driver captures only a bounded tail of stdout, so the final line must
never grow with query count (the r3/r4 bench gates were lost to exactly
that: a 64-query per-query map pushed the line past the parse window).
The per-query timing map therefore goes to (a) an earlier stdout line keyed
``"detail"`` and (b) the side file ``BENCH_QUERIES.json`` next to this
script — never the final line.

Data dir: ``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``);
parallelism: ``session.get_spark``'s master (``local[$SPARK_GRAFT_CPUS]``
for local runs).  The per-core detail copy ``BENCH_QUERIES_c<N>.json``
takes N from the session's ``defaultParallelism``, the cores the run
really had.

Each query is forced with a cheap terminal action (``count`` on the final
plan) so timings cover scan → shuffle → result without driver-side collect
overhead dominating.  Each query is timed as the best of two back-to-back
runs: first-run JIT on array-fold kernels costs ~2× and was blurring the
driver-vs-local comparison (see VERDICT r4 "What's wrong" #3).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from medallion_data_warehouse_on_azure_with_databricks_pyspark_spark import (  # noqa: E402
    session,
    workload,
)

#: Queries timed for the headline metric.  Updated as operators land.
HEADLINE = [
    "customer_segment_count",
    "customer_filter_segment",
    "part_type_token_count",
    "customer_change_hash",
    "orders_year_windows",
    "orders_duplicate_custkeys",
    "lineitem_pricing_summary",
    "fact_enrichment_join",
    "part_discount_udf",
    "part_brand_upper_udf",
    "scd1_customer_dim",
    "scd2_part_dim",
    "order_fact_upsert",
    "dlt_part_pipeline",
    "events_hourly_windows",
    "events_sliding_windows",
    "events_session_windows",
    "lineitem_skew_salted_agg",
    "events_json_props",
    "orders_priority_rollup",
    "customer_set_ops",
    "orders_top20",
    "part_distinct_aggs",
    "doc_token_counts",
    "doc_text_stats",
    "doc_language_id",
    "doc_exact_dedup",
    "doc_minhash_dedup_pairs",
    "doc_dedup_representatives",
    "emb_cosine_topk",
    "emb_lsh_topk",
    "emb_ivf_topk",
    "emb_cosine_dedup_pairs",
    "multimodal_features",
    "events_asof_join",
    "events_range_join_agg",
    "doc_repetition_stats",
    "doc_scrub_pii",
    "doc_bm25_topk",
    "orders_price_quantiles",
    "emb_int8_quantize_error",
    "orders_status_priority_cube",
    "orders_analytic_windows",
    "customer_without_orders",
    "part_string_functions",
    "doc_chunks",
    "doc_mixture_splits",
    "doc_token_packing",
    "events_resample_ffill",
    "corpus_vocab_topk",
    "events_daily_rolling",
    "events_variant_props",
    "customer_with_high_value_orders",
    "orders_year_priority_pivot",
    "doc_ngram_jaccard_pairs",
    "doc_simhash_pairs",
    "emb_ivf_kmeans_topk",
    "events_approx_distinct",
    "events_approx_quantiles",
    "doc_bpe_token_counts",
    "docs_zorder_pruned_scan",
    "doc_benchmark_decontamination",
    "doc_cross_corpus_dedup",
    "doc_winnow_overlap_pairs",
    "emb_ivf_indexed_topk",
    "emb_lsh_indexed_topk",
    "doc_simhash_poly_pairs",
    "scd2_part_dim_deletes",
    "dlt_part_quarantine",
    "doc_gopher_quality",
    "emb_lsh_multitable_topk",
    "doc_duplicated_spans",
    "doc_boilerplate_removal",
    "orders_shipping_priority",
    "regional_nation_revenue",
    "orders_bucketed_colocated_join",
    "part_merge_dv_scan",
    "emb_matryoshka_topk",
    "emb_ivfsq8_topk",
    "emb_ivfsq8_indexed_topk",
    "emb_ivfsq8_stream_topk",
    "emb_ivfbq_topk",
    "emb_ivfbq_indexed_topk",
    "emb_mmr_diversified_topk",
    "emb_mmr_ivf_topk",
    "doc_dedup_keep_best",
    "doc_temperature_mixture",
    "emb_semantic_decontamination",
    "events_rolling_anomaly",
    "part_replace_partitions",
    "events_stream_partition_overwrite",
    "emb_ivf_recall_report",
    "emb_ivf_drift_report",
    "doc_curation_pipeline",
    "part_optimize_partitions_scan",
    "events_recluster_zorder_scan",
    # r15: hilbert twin of the recluster lane (curve selected through
    # the maintenance policy/spec plumbing), and the incremental
    # (offenders-only) recluster over file-subset commits
    "events_recluster_hilbert_scan",
    "events_recluster_incremental_scan",
    "events_stream_anomaly_ingest",
    "doc_token_budget_epochs",
    "emb_matryoshka_ivf_topk",
    "emb_matryoshka_indexed_topk",
    "doc_source_caps",
    "doc_duplication_stats",
    "doc_hybrid_search_rrf",
    "emb_semantic_dedup",
    "emb_chunk_mean_pool",
    "doc_quality_classifier",
    "doc_lm_fluency",
    "doc_adaptive_quality_filter",
    "part_time_travel_diff",
    "customer_dim_schema_evolution",
    "part_cdf_changes",
    "part_cdf_changes_percommit",
    "orders_unpivot_metrics",
    "doc_sentences_udtf",
    "doc_leakage_safe_splits",
    "emb_pq_adc_topk",
    "emb_ivfpq_topk",
    # r8 lakehouse-maintenance lanes: each is a compact write->maintain->
    # scan cycle; the maintained artifact IS the work being measured
    "part_stats_skipping_scan",
    "part_optimize_compacted_scan",
    "part_dml_update_delete_cdf",
    "part_bloom_skipping_scan",
    "part_dv_delete_scan",
    "events_generated_partition_scan",
    "part_matview_incremental",
    "emb_ivfpq_residual_topk",
    "events_cohort_retention",
    "events_funnel_stages",
    "emb_ivfpq_indexed_topk",
    "orders_grouping_sets",
    "events_hourly_ohlc",
    # r9: probe path against the stream-maintained IVFADC artifact (the
    # build + two-batch CDC ingest runs once per process; best-of-N keeps
    # the timed number on the probe, same as the other *_indexed lanes)
    "emb_ivfpq_stream_topk",
    # r9: transactional MERGE INTO a versioned table (merge plan inside
    # the optimistic-concurrency transact loop)
    "part_merge_versioned_txn",
    # r9: distributed PCA — fixed-point Gram moments + deterministic
    # power iteration + Catalyst-fold projection
    "emb_top_pc_projection",
    # r9: tokenizer training on the corpus itself (distributed word count
    # + driver merge loop + per-doc counts under the trained table)
    "doc_bpe_trained_tokens",
    "docs_recluster_sorted_scan",
    # r17: lakehouse adoption + lineage lanes — in-lane table build,
    # CONVERT/CLONE metadata commits, divergent writes, log-resolved
    # reads; the adoption/clone cost being measured IS the metadata op
    "part_convert_in_place_scan",
    "part_clone_divergence",
    # r18: column-mapping ALTERs — in-lane table build, two
    # metadata-only commits, post-rename append, log-projected read
    "part_rename_column_scan",
]

#: The r7-era 89-lane common set: a STABLE subtotal basis so round-over-round
#: comparison survives lane accretion (VERDICT r8 ask #5 — the headline total
#: drifts upward every round new lanes land; this subtotal never gains
#: members, so its trajectory is pure performance signal).  Frozen from the
#: r7 bench snapshot (commit c4d5fd7, BENCH_QUERIES.json); do NOT append.
COMMON_SET_R7 = frozenset({
    "corpus_vocab_topk", "customer_change_hash",
    "customer_dim_schema_evolution", "customer_filter_segment",
    "customer_segment_count", "customer_set_ops",
    "customer_with_high_value_orders", "customer_without_orders",
    "dlt_part_pipeline", "dlt_part_quarantine",
    "doc_benchmark_decontamination", "doc_bm25_topk", "doc_bpe_token_counts",
    "doc_chunks", "doc_cross_corpus_dedup", "doc_dedup_representatives",
    "doc_duplicated_spans", "doc_duplication_stats", "doc_exact_dedup",
    "doc_gopher_quality", "doc_hybrid_search_rrf", "doc_language_id",
    "doc_leakage_safe_splits", "doc_lm_fluency", "doc_minhash_dedup_pairs",
    "doc_mixture_splits", "doc_ngram_jaccard_pairs", "doc_quality_classifier",
    "doc_repetition_stats", "doc_scrub_pii", "doc_sentences_udtf",
    "doc_simhash_pairs", "doc_simhash_poly_pairs", "doc_source_caps",
    "doc_text_stats", "doc_token_counts", "doc_token_packing",
    "doc_winnow_overlap_pairs", "docs_zorder_pruned_scan",
    "emb_chunk_mean_pool", "emb_cosine_dedup_pairs", "emb_cosine_topk",
    "emb_int8_quantize_error", "emb_ivf_indexed_topk", "emb_ivf_kmeans_topk",
    "emb_ivf_topk", "emb_ivfpq_topk", "emb_lsh_indexed_topk",
    "emb_lsh_multitable_topk", "emb_lsh_topk", "emb_pq_adc_topk",
    "emb_pq_indexed_topk", "emb_semantic_dedup", "events_approx_distinct",
    "events_approx_quantiles", "events_asof_join", "events_daily_rolling",
    "events_hourly_windows", "events_json_props", "events_range_join_agg",
    "events_resample_ffill", "events_session_windows",
    "events_sliding_windows", "events_stateful_sessions",
    "events_variant_props", "fact_enrichment_join",
    "lineitem_pricing_summary", "lineitem_skew_salted_agg",
    "multimodal_features", "order_fact_upsert", "orders_analytic_windows",
    "orders_duplicate_custkeys", "orders_price_quantiles",
    "orders_priority_rollup", "orders_status_priority_cube", "orders_top20",
    "orders_unpivot_metrics", "orders_year_priority_pivot",
    "orders_year_windows", "part_brand_upper_udf", "part_cdf_changes",
    "part_discount_udf", "part_distinct_aggs", "part_string_functions",
    "part_time_travel_diff", "part_type_token_count", "scd1_customer_dim",
    "scd2_part_dim", "scd2_part_dim_deletes",
})

#: The previous round's full lane set (r17, 139 lanes), refrozen each round
#: from the prior BENCH_QUERIES.json so "this round vs last round" reads a
#: stable basis directly out of the summary line (VERDICT r10 ask #8) —
#: lanes that land THIS round (part_rename_column_scan) are excluded
#: automatically.
COMMON_SET_PREV = frozenset({
    "corpus_vocab_topk", "customer_change_hash",
    "customer_dim_schema_evolution", "customer_filter_segment",
    "customer_segment_count", "customer_set_ops",
    "customer_with_high_value_orders", "customer_without_orders",
    "dlt_part_pipeline", "dlt_part_quarantine",
    "doc_adaptive_quality_filter", "doc_benchmark_decontamination",
    "doc_bm25_topk", "doc_boilerplate_removal", "doc_bpe_token_counts",
    "doc_bpe_trained_tokens", "doc_chunks", "doc_cross_corpus_dedup",
    "doc_curation_pipeline", "doc_dedup_keep_best",
    "doc_dedup_representatives", "doc_duplicated_spans",
    "doc_duplication_stats", "doc_exact_dedup", "doc_gopher_quality",
    "doc_hybrid_search_rrf", "doc_language_id", "doc_leakage_safe_splits",
    "doc_lm_fluency", "doc_minhash_dedup_pairs", "doc_mixture_splits",
    "doc_ngram_jaccard_pairs", "doc_quality_classifier",
    "doc_repetition_stats", "doc_scrub_pii", "doc_sentences_udtf",
    "doc_simhash_pairs", "doc_simhash_poly_pairs", "doc_source_caps",
    "doc_temperature_mixture", "doc_text_stats", "doc_token_budget_epochs",
    "doc_token_counts", "doc_token_packing", "doc_winnow_overlap_pairs",
    "docs_recluster_sorted_scan", "docs_zorder_pruned_scan",
    "emb_chunk_mean_pool", "emb_cosine_dedup_pairs", "emb_cosine_topk",
    "emb_int8_quantize_error", "emb_ivf_drift_report",
    "emb_ivf_indexed_topk", "emb_ivf_kmeans_topk", "emb_ivf_recall_report",
    "emb_ivf_topk", "emb_ivfbq_indexed_topk", "emb_ivfbq_topk",
    "emb_ivfpq_indexed_topk", "emb_ivfpq_residual_topk",
    "emb_ivfpq_stream_topk", "emb_ivfpq_topk", "emb_ivfsq8_indexed_topk",
    "emb_ivfsq8_stream_topk", "emb_ivfsq8_topk", "emb_lsh_indexed_topk",
    "emb_lsh_multitable_topk", "emb_lsh_topk",
    "emb_matryoshka_indexed_topk", "emb_matryoshka_ivf_topk",
    "emb_matryoshka_topk", "emb_mmr_diversified_topk", "emb_mmr_ivf_topk",
    "emb_pq_adc_topk", "emb_semantic_decontamination", "emb_semantic_dedup",
    "emb_top_pc_projection", "events_approx_distinct",
    "events_approx_quantiles", "events_asof_join",
    "events_cohort_retention", "events_daily_rolling",
    "events_funnel_stages", "events_generated_partition_scan",
    "events_hourly_ohlc", "events_hourly_windows", "events_json_props",
    "events_range_join_agg", "events_recluster_hilbert_scan",
    "events_recluster_incremental_scan", "events_recluster_zorder_scan",
    "events_resample_ffill", "events_rolling_anomaly",
    "events_session_windows", "events_sliding_windows",
    "events_stream_anomaly_ingest", "events_stream_partition_overwrite",
    "events_variant_props", "fact_enrichment_join",
    "lineitem_pricing_summary", "lineitem_skew_salted_agg",
    "multimodal_features", "order_fact_upsert", "orders_analytic_windows",
    "orders_bucketed_colocated_join", "orders_duplicate_custkeys",
    "orders_grouping_sets", "orders_price_quantiles",
    "orders_priority_rollup", "orders_shipping_priority",
    "orders_status_priority_cube", "orders_top20", "orders_unpivot_metrics",
    "orders_year_priority_pivot", "orders_year_windows",
    "part_bloom_skipping_scan", "part_brand_upper_udf", "part_cdf_changes",
    "part_cdf_changes_percommit", "part_clone_divergence",
    "part_convert_in_place_scan", "part_discount_udf", "part_distinct_aggs",
    "part_dml_update_delete_cdf", "part_dv_delete_scan",
    "part_matview_incremental", "part_merge_dv_scan",
    "part_merge_versioned_txn", "part_optimize_compacted_scan",
    "part_optimize_partitions_scan", "part_replace_partitions",
    "part_stats_skipping_scan", "part_string_functions",
    "part_time_travel_diff", "part_type_token_count",
    "regional_nation_revenue", "scd1_customer_dim", "scd2_part_dim",
    "scd2_part_dim_deletes",
})

#: Registered queries deliberately NOT timed in the headline metric, with
#: the reason.  tests/test_bench_registry.py pins HEADLINE ∪ EXCLUDED ==
#: workload.QUERIES so new queries can't silently miss the driver gates.
EXCLUDED = {
    # flat-scan compression rungs (VERDICT r11 "what's wrong" #1): correct
    # and oracle-gated, but their probe touches EVERY stored code — the
    # IVF-composed artifacts (emb_ivfsq8_*, emb_ivfpq_*) are the
    # partition-pruned production paths and carry the headline timing;
    # these stay registered as exactness gates (full-probe == flat is
    # pinned by tests/test_index_lifecycle.py)
    "emb_sq8_topk": "flat SQ8 scan; pruned path timed via emb_ivfsq8_topk",
    "emb_sq8_indexed_topk": "flat SQ8 code artifact; pruned artifact timed via emb_ivfsq8_indexed_topk",
    "emb_pq_indexed_topk": "flat PQ code artifact; pruned artifact timed via emb_ivfpq_indexed_topk",
    # duplicates of timed queries through a different entry point — timing
    # both would double-count the same plan
    "scd1_customer_dim_sql": "same merge plan as scd1_customer_dim via SQL parser",
    "dlt_part_pipeline_incremental": "superset re-run of dlt_part_pipeline",
    "dlt_part_pipeline_deletes": "three-run checkpointed streaming harness; the delete-merge math is timed via scd2_part_dim_deletes (same oracle)",
    "part_scd2_from_cdf_replay": "three-versioned-writes-per-call harness (7.4s at sf0.01, ~all setup); the fold's merge math is timed via scd2_part_dim_deletes and the CDF diff via part_cdf_changes_percommit",
    # checkpoint-directory streaming harnesses: wall-clock is dominated by
    # per-run temp-dir setup, already covered by events_stateful_sessions
    "events_stream_ingest": "file-stream harness setup noise; covered by stateful query",
    "doc_stream_dedup_ingest": "file-stream + scratch-index harness setup noise; the dedup math it exercises is timed via doc_cross_corpus_dedup and doc_minhash_dedup_pairs",
    "events_json_rescue_ingest": "file-stream harness setup noise (JSON landing-zone synthesis + checkpointed ingest per run); the rescue math is a single zero-shuffle Catalyst projection",
    "events_stream_watermark_windows": "checkpointed streaming harness; the window aggregation it runs is timed via events_hourly_windows (same groupBy plan)",
    "events_stream_dropdup_ingest": "checkpointed streaming harness over a doubled copy of events; the stateful dedup operator is a built-in whose per-key state math has no batch twin to time",
    "events_stream_stream_join": "checkpointed stream-stream harness; the interval-join plan it runs is timed batch-side via events_range_join_agg (same join shape)",
    "events_stream_static_enrich": "checkpointed streaming harness; the broadcast dim join it runs is timed batch-side via fact_enrichment_join (same join shape)",
    "events_stream_counter_ingest": "checkpointed streaming harness; the per-batch groupBy it folds is timed batch-side via events_json_props (same aggregate shape)",
    "events_stream_matview_ingest": "three-checkpointed-runs streaming harness (per-run temp-dir + base-table setup dominates); the incremental CDF fold it exercises is timed batch-side via part_matview_incremental (same delta-fold plan)",
    # r17 (VERDICT r16 ask #4): slowest headline lane five rounds running
    # (5.13 s at r16), adjudicated box-sensitive in the r14 AND r15
    # quiet-box protocols — its applyInPandasWithState Python state
    # workers swing with scheduler load, not with code, and it burned a
    # perf adjudication every round.  The sessionization math keeps its
    # JVM twin events_session_windows (0.45 s) in the headline, and the
    # lane keeps its driver correctness rotation + exact oracle untouched.
    "events_stateful_sessions": "applyInPandasWithState contract lane; Python state-worker wall time is box noise (r14/r15 quiet-box), sessionization timed via JVM twin events_session_windows",
}


#: Restart the SparkSession every N lanes (r16, VERDICT r15 "What's
#: wrong" #1): the r15 run's LAST ~17 bench positions degraded a median
#: 1.40× on untouched code while positions 0–119 moved ≤1.17× — end-of-
#: run session residue (accumulated cached blocks, temp views, shuffle
#: dirs, Python-worker churn, JVM heap fragmentation), not per-lane
#: regressions.  A fresh JVM every ~50 lanes bounds the residue window;
#: the restart happens OUTSIDE any timed region and each lane's
#: best-of-2–3 protocol still absorbs first-run JIT.
RESTART_EVERY = 48


def _fresh_session():
    spark = session.get_spark(app_name="medallion-bench")
    # Quiet the JVM: streaming state-store maintenance threads can emit WARNs
    # during shutdown, and anything printed after the JSON line breaks the
    # driver's single-line parse (this lost the r3 bench metric).
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _tree_cpu_seconds() -> float:
    """Total CPU seconds (user+sys) consumed so far by THIS process and
    every live descendant (the py4j JVM with its local[*] executor
    threads, pyspark worker daemons, Python UDF workers), plus the
    reaped-children CPU each tree member has accumulated (``cutime``/
    ``cstime`` — dead UDF workers' time rolls up to their reaper, which
    is in the tree, so nothing is counted twice).  One /proc walk, ~ms.

    Purpose (VERDICT r16 ask #3): recording a CPU-time delta per lane
    next to the wall-time delta makes instrument drift mechanically
    separable from code drift — ambient box load inflates wall but not
    CPU, a plan regression inflates both.  Wall stays the headline
    metric; CPU is telemetry.

    Caveat (first r17 run) and its r18 fix: a tree member that EXITS
    mid-lane without being reaped into a surviving member's cutime
    (e.g. a pyspark daemon culled with its workers orphan-reaped by
    init) takes its accumulated CPU out of a TOTAL-sum delta, driving
    it negative — r17 clamped the whole lane to 0, which blinded the
    bench's single most expensive lane.  r18 computes the delta
    PER PID (:func:`_tree_cpu_delta`): survivors contribute their own
    clamped delta, lane-born processes their full time, and a vanished
    pid zeroes only ITSELF — attribution loss is now bounded to the
    vanished member's during-lane slice instead of the whole lane."""
    s = _tree_cpu_snapshot()
    return s["own"] + sum(s["tree"].values()) / s["tick"]


def _tree_cpu_snapshot() -> dict:
    """Per-pid CPU ticks of every live tree member (self excluded; the
    bench process plus its already-reaped direct children ride
    ``os.times()`` in ``own``).  One /proc walk, ~ms."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, cpu_ticks)
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as fh:
                rest = fh.read().rsplit(") ", 1)[1].split()
        except OSError:
            continue  # raced a process exit
        # fields after comm (1-indexed in proc(5)): state=3 ppid=4 ...
        # utime=14 stime=15 cutime=16 cstime=17 -> rest[0]=state
        ppid = int(rest[1])
        cpu = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        stats[int(ent)] = (ppid, cpu)
    tree: dict[int, int] = {}
    for pid, (ppid, cpu) in stats.items():
        if pid == me:
            continue  # self + self-reaped children come from os.times()
        p = ppid
        while p > 1 and p != me:
            p = stats.get(p, (0, 0))[0]
        if p == me:
            tree[pid] = cpu
    t = os.times()
    own = t.user + t.system + t.children_user + t.children_system
    return {"own": own, "tree": tree, "tick": tick}


def _tree_cpu_delta(s0: dict, s1: dict) -> float:
    """Lane CPU seconds between two snapshots, attributed per pid:

    - pid in both: its own delta, clamped at 0 (a cutime rollup can
      only raise it; pid reuse could lower it — never a credit);
    - pid born during the lane: its full accumulated time (workers
      spawned and still alive at snapshot);
    - pid vanished during the lane: contributes 0 — its during-lane
      slice is lost ONLY when init reaped it (a parent still in the
      tree rolls it into cutime, which the parent's delta carries).

    A worker that is BORN and DIES within the lane appears in neither
    snapshot and is still counted exactly once, via its reaper's cutime
    jump.  The only residual error is the pre-lane CPU of a member that
    dies mid-lane AND rolls into a survivor (over-count) — rare, small,
    and strictly better than r17's clamp-the-whole-lane-to-0."""
    tick = s1["tick"]
    d = max(0.0, s1["own"] - s0["own"])
    t0 = s0["tree"]
    for pid, cpu1 in s1["tree"].items():
        cpu0 = t0.get(pid)
        if cpu0 is None:
            d += cpu1 / tick
        else:
            d += max(0, cpu1 - cpu0) / tick
    return d


def _lane_hygiene(spark) -> None:
    """Between-lane cleanup so no lane's residue taxes the next: drop
    every cached block and temp view the lane left behind.  Cheap
    (catalog metadata ops, no jobs) and outside every timed region."""
    try:
        spark.catalog.clearCache()
        for tbl in spark.catalog.listTables():
            if tbl.isTemporary:
                spark.catalog.dropTempView(tbl.name)
    except Exception:
        pass  # hygiene must never fail the bench


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = _fresh_session()
    # Warm the JVM + parquet footers once so timings measure the engine, not
    # first-touch JIT/class-loading noise.
    workload.QUERIES[HEADLINE[0]](spark, sf_dir).count()

    timings: dict[str, float] = {}
    cpu_timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    warnings: dict[str, str] = {}
    for lane_idx, name in enumerate(HEADLINE):
        if lane_idx and lane_idx % RESTART_EVERY == 0:
            spark.stop()
            spark = _fresh_session()
            workload.QUERIES[HEADLINE[0]](spark, sf_dir).count()  # re-warm
        fn = workload.QUERIES[name]
        # Best-of-two: the second run reuses JIT-compiled codegen, loaded
        # classes, and cached parquet footers, so it measures the plan, not
        # cold-start noise.  Streaming-checkpoint queries use fresh temp
        # dirs per call, so both runs do real work either way.
        runs = []
        cpus = []
        try:
            for _ in range(2):
                c0 = _tree_cpu_snapshot()
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                runs.append(time.perf_counter() - t0)
                cpus.append(_tree_cpu_delta(c0, _tree_cpu_snapshot()))
        except Exception as exc:  # noqa: BLE001 — per-lane fault isolation
            # one broken lane must not lose the WHOLE round's bench
            # metric (r16: a lane assertion tripped mid-run and the
            # driver would have recorded nothing).  Record the error
            # loudly in the detail line + a summary count; keep going.
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            _lane_hygiene(spark)
            continue
        # Noise floor (ADVICE r6; tightened r8): ambient box load makes
        # sub-second queries swing 3-4x between identical-code runs, and
        # the r8 A/B measured run-scoped microVM drift of 10-30% on
        # identical code (SCALE.md "Round 8").  When the two runs
        # disagree by >1.5x, one of them hit a load window — take a
        # third and keep the best, so the recorded number reflects the
        # plan, not the scheduler.  Well-behaved queries still pay
        # exactly two runs.  The third run sits inside its OWN
        # try/except (ADVICE r16 #1): a lane that flakes on exactly
        # this run must degrade to min(runs) of the two good ones, not
        # crash the bench this isolation exists to protect.
        if max(runs) > 1.5 * min(runs):
            try:
                c0 = _tree_cpu_snapshot()
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                runs.append(time.perf_counter() - t0)
                cpus.append(_tree_cpu_delta(c0, _tree_cpu_snapshot()))
            except Exception as exc:  # noqa: BLE001 — same isolation
                # the lane IS timed (two good runs) — a warning, not an
                # error: n_errors must keep meaning "lane lost, total
                # not comparable"
                warnings[name] = (
                    "noise-floor rerun failed (timed on first two runs): "
                    + f"{type(exc).__name__}: {exc}"[:240]
                )
        best = min(range(len(runs)), key=lambda i: runs[i])
        timings[name] = round(runs[best], 4)
        # CPU of the same run whose wall we keep: plan cost, not box
        # cost.  Clamped at 0: a worker exiting mid-lane can take its
        # CPU out of the tree sum (see _tree_cpu_seconds caveat) — 0
        # reads "attribution lost", never a negative credit.
        cpu_timings[name] = round(max(0.0, cpus[best]), 4)
        _lane_hygiene(spark)

    # Stop the session FIRST so shutdown-time log lines (state-store
    # maintenance, executor teardown) can't land after the JSON result; the
    # final JSON line must be the last stdout the driver sees.
    cores = spark.sparkContext.defaultParallelism
    spark.stop()
    sys.stdout.flush()
    sys.stderr.flush()

    detail_line, summary_line = render_output(
        timings, sf, errors=errors, cpu=cpu_timings, warnings=warnings
    )
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_QUERIES.json"), "w") as fh:
        fh.write(detail_line + "\n")
    # ALSO write a per-core-count copy (r19, VERDICT r18 ask #6): the
    # driver's 8-core scaling run overwrites BENCH_QUERIES.json after
    # its 32-core run, which blanked PERF_r18's per-query comparison
    # (n_common: 0).  Additions-only: the legacy file keeps its exact
    # behavior for driver compatibility; the suffixed copy preserves
    # each core count's detail side by side.
    with open(os.path.join(here, f"BENCH_QUERIES_c{cores}.json"), "w") as fh:
        fh.write(detail_line + "\n")
    print(detail_line)
    print(summary_line)


def render_output(timings: dict[str, float], sf: float,
                  errors: dict[str, str] | None = None,
                  cpu: dict[str, float] | None = None,
                  warnings: dict[str, str] | None = None) -> tuple[str, str]:
    """Build the two output lines: a per-query detail line and a
    CONSTANT-SIZE summary line.

    The detail line is keyed ``"detail"`` (not ``"metric"``) so a
    tail-window regex can't confuse a truncated copy of it with the summary
    line; the summary line carries no per-query map, so it stays ~100 bytes
    at any query count (tests/test_bench_registry.py pins this).
    """
    total = round(sum(timings.values()), 4)
    common = {k: v for k, v in timings.items() if k in COMMON_SET_R7}
    prev = {k: v for k, v in timings.items() if k in COMMON_SET_PREV}
    detail_obj = {"detail": "per_query_sec", "queries": timings, "sf": sf}
    if errors:
        detail_obj["errors"] = errors
    if cpu:
        # per-lane CPU-seconds telemetry (VERDICT r16 ask #3): the whole
        # process tree's user+sys delta for the SAME run whose wall time
        # is recorded.  Drift archaeology becomes a subtraction: box
        # contention moves wall/CPU apart, a plan regression moves both.
        detail_obj["cpu_sec"] = cpu
    if warnings:
        detail_obj["warnings"] = warnings
    detail = json.dumps(detail_obj, sort_keys=True)
    summary = json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        # stable-basis subtotal: the frozen r7 89-lane set, so
        # round-over-round comparison needs no git archaeology
        "common_r7_value": round(sum(common.values()), 4),
        "common_r7_n": len(common),
        # same subtotal in CPU-seconds (r17, VERDICT r16 ask #3): wall
        # drift without CPU drift = box noise; both drifting = code
        "common_r7_cpu": round(sum(
            v for k, v in (cpu or {}).items() if k in COMMON_SET_R7), 4),
        # rolling prev-round subtotal: last round's full lane set, so
        # "vs last round" is one field, not per-lane diffing
        "common_prev_value": round(sum(prev.values()), 4),
        "common_prev_n": len(prev),
        # lanes that errored this run (timed lanes exclude them; a
        # nonzero count means the total is NOT comparable round-over-
        # round — investigate the detail line's "errors" map)
        "n_errors": len(errors or {}),
    })
    return detail, summary


if __name__ == "__main__":
    main()
