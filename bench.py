"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.

Each query is forced through the noop sink (full computation, no
driver collect overhead).  A warmup query absorbs JVM/codegen start-up
so per-query numbers reflect steady-state executor time.  The suite
runs ``$SPARK_GRAFT_BENCH_N`` full passes (default 3) INTERLEAVED
round-robin -- pass 1 = every query once (cold: codegen compile +
caches), passes 2..N = every query once more each -- and ``queries``
reports the per-query WARM median across passes 2..N, ``queries_cold``
the pass-1 time.  Interleaving is deliberate (VERDICT r12 item 2): the
previous consecutive-N-samples-per-query layout let a host-load ramp
land entirely on whichever query was in flight (r12's semantic_dedup
swung 6.9->18.0 s across four same-code measurements); round-robin
spreads any ramp across the whole suite, so host load biases the suite
TOTAL but not individual per-query medians.  The cold/warm split itself
is older (VERDICT r4 item 5: at n=2 a single cold run dominated the
median for every Arrow-path query).  The headline ``value`` is the
warm-median suite total.  Key order is deliberate (VERDICT r5 item 3):
``queries_cold`` first, the warm ``queries`` map and a compact
``summary`` object LAST, so a tail-truncated capture of the JSON line
still shows the round-over-round comparable (warm) numbers.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    # reference analytics surface
    "hourly_event_summary",
    "hourly_event_summary_csv",
    "user_activity",
    "category_performance",
    "quality_hourly",
    "event_distribution",
    "validation_summary",
    "enriched_events",
    "dedup_exact",
    "sessionization",
    # TPC-H-style scale queries
    "tpch_q1",
    "tpch_q6",
    "purchase_attribution",
    "top_customers",
    "regional_revenue",
    "order_priority",
    "event_pivot",
    "rollup_revenue",
    "top_parts_per_brand",
    "cube_events",
    "above_avg_orders",
    "nation_pairs",
    "customers_without_orders",
    "min_cost_supplier",
    "nation_profit",
    "market_share",
    "top_supplier",
    "big_orders",
    "order_window_suite",
    "user_set_ops",
    "user_set_ops_all",
    "doc_hof_stats",
    "part_string_funcs",
    "parts_never_shipped",
    "top_spenders_lateral",
    "hourly_gapfill",
    "rolling_7d_revenue",
    "latest_event_per_user",
    "doc_regex_extract",
    # LLM-pipeline extensions
    "simhash_near_dup_fast",
    "approx_distinct_users",
    "stratified_sample",
    "props_json",
    "doc_quality",
    "doc_fingerprints",
    "ngram_jaccard_pairs",
    "minhash_near_dup_fast",
    "near_dup_clusters_fast",
    "simhash",
    "similarity_topk",
    "embedding_near_dup",
    "embedding_lsh_near_dup",
    "ann_ivf_topk",
    "multimodal_features",
    "multimodal_decode",
    "dlq_breakdown",
    "doc_repetition",
    "doc_clean",
    "user_session_window",
    "order_first_last_nth",
    "user_map_funcs",
    "salted_distinct_users",
    "salted_nation_revenue",
    "grouping_sets_events",
    "doc_array_ops",
    # round-3 TPC-H second batch
    "nation_volume",
    "returned_revenue",
    "order_count_distribution",
    "promo_revenue",
    "small_quantity_revenue",
    "disjunctive_revenue",
    "idle_customers",
    # round-3 corpus-preparation operators
    "canonical_docs",
    "training_mix_sample",
    "unimax_mix_allocation",
    "embedding_quantize",
    "quality_percentile_filter",
    "doc_chunks",
    "sequence_packing",
    "multimodal_resize_real",
    "decontaminate",
    "semantic_decontaminate",
    # round-4: bucketed-layout pair (same query, same oracle; the delta
    # IS the fact-fact shuffle) + new portable/oracle flavors
    "fact_join_unbucketed",
    "fact_join_bucketed",
    "doc_rolling_fingerprint",
    "multimodal_frames",
    # round-4: curation family (filter / redact / quota / term stats)
    "exact_ngram_decontaminate",
    "pii_redaction",
    "source_quota_sample",
    "zipf_top_terms",
    "tfidf_top_terms",
    "corpus_filter_chain",
    # round-4: boilerplate removal + range-join / sweep-line pair
    "boilerplate_dedup",
    "session_overlap_pairs",
    "session_concurrency",
    "bpe_merge_candidates",
    # round-4: TPC-H completion batch (all 22 shapes covered)
    "important_parts",
    "priority_linestatus",
    "supplier_count_by_part",
    "dominant_suppliers",
    "sole_failed_supplier",
    # round-5: ANN evidence queries + quantized IVF + sketch audits
    "ann_ivf_topk_quantized",
    "ann_ivf_lossless_audit",
    "ann_recall_audit",
    "simhash_near_dup",
    "approx_distinct_audit",
    "stratified_sample_audit",
    "url_domain_filter",
    "html_text_extract",
    "semantic_dedup",
    "url_canonical_dedup",
    "intra_doc_dedup",
    "training_mix_upsample",
    "quality_classifier_filter",
    "funnel_conversion",
    "cohort_retention",
    "event_transitions",
    # round-5: link-graph analytics (iterative fixed-point PageRank +
    # degree-oriented triangle counting)
    "pagerank_links",
    "triangle_counts",
    "approx_quantiles_audit",
    "bm25_search",
    "sorted_neighborhood_dedup",
    "zscore_anomaly_hours",
    "session_path_mining",
    "term_pmi_cooccurrence",
    "fuzzy_record_linkage",
    "scd2_priority_dim",
    "table_profile_events",
    "iqr_outlier_summary",
    "ab_test_conversion",
    "forecast_baseline",
    "market_basket",
    "gdpr_erasure_audit",
    "winsorized_value_stats",
    # round-6: streaming-twin decay, regression/quality/skew audits
    "trending_scores",
    "ols_trend",
    "benford_digit_audit",
    "skew_key_report",
    "incremental_dedup",
    "audio_decode",
    "audio_frame_energy",
    "mad_anomaly_hours",
    "snapshot_diff",
    "cumulative_unique_users",
    "revenue_concentration",
    # round-6, second session: distribution profiling + series repair
    "value_histogram",
    "gapfill_interpolate",
    "asof_quotes",
    "bfs_reachability",
    "kmeans_cluster_profile",
    "png_decode",
    "video_frame_stats",
    "freq_items_audit",
    # round-7: sink-twin ranking + table maintenance
    "trending_topk",
    "compaction_plan",
    # round-9: duplicated-substring census, contamination matrix,
    # training-shard manifest, substring-dedup cut, PQ audit
    "duplicate_ngrams",
    "source_overlap_matrix",
    "shard_manifest",
    "substring_dedup_cut",
    "substring_dedup_cut_fast",
    "embedding_pq_audit",
    "ann_ivfpq_adc_audit",
    "bpe_apply_compression",
    "psi_value_drift",
    "train_eval_split",
    # round-13: CCNet-style LM quality gate + DSIR selection
    "lm_surprisal_filter",
    "dsir_importance_select",
    # round-15: loss-driven domain mix + tokenizer efficiency + dedup report
    "doremi_domain_weights",
    "tokenizer_fertility_audit",
    "dedup_cluster_profile",
    "rrf_hybrid_search",
    "quality_consensus_report",
]


def _host_load() -> dict:
    """Host-load snapshot for bench adjudication (VERDICT r11 item 4):
    1/5/15-min loadavg, runnable/total task counts (4th field of
    /proc/loadavg), and live process count.  BENCH_r11's driver run was
    ~2x slower than the same-head local run purely from host load; with
    start/end snapshots in the artifact itself, a driver-window swing
    is classifiable without a local re-run."""
    out: dict = {}
    try:
        la1, la5, la15 = os.getloadavg()
        out["loadavg_1m"] = round(la1, 2)
        out["loadavg_5m"] = round(la5, 2)
        out["loadavg_15m"] = round(la15, 2)
    except OSError:
        pass
    try:
        with open("/proc/loadavg") as f:
            runnable, total = f.read().split()[3].split("/")
        out["runnable_tasks"] = int(runnable)
        out["total_tasks"] = int(total)
    except (OSError, IndexError, ValueError):
        pass
    try:
        out["n_processes"] = sum(1 for p in os.listdir("/proc") if p.isdigit())
    except OSError:
        pass
    return out


def _percentile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile over a sorted list."""
    if not sorted_vals:
        return 0.0
    idx = min(len(sorted_vals) - 1, max(0, int(round(p * (len(sorted_vals) - 1)))))
    return sorted_vals[idx]


def bench_streaming_pipeline(spark, n_events: int = 20_000) -> dict:
    """Run the full streaming pipeline (validate -> enrich -> dedup ->
    3-table sink) over ``n_events`` generated CSV events, availableNow
    with 1 file per micro-batch (8 batches).  Returns total seconds,
    events/sec, and the per-batch latency distribution (p50/p95 of
    triggerExecution from StreamingQueryProgress) -- the latency frame
    BASELINE.md reports (4.4 s / 8.6 s E2E per batch)."""
    import shutil
    import tempfile
    from datetime import datetime, timezone

    from spark_streaming_postgres_lab2_spark.config import StreamingConfig
    from spark_streaming_postgres_lab2_spark.sources.datagen import EventGenerator
    from spark_streaming_postgres_lab2_spark.streaming.pipeline import build_pipeline

    def run(tag: str, files: int, max_files_per_trigger: int) -> dict:
        root = tempfile.mkdtemp(prefix=f"bench_stream_{tag}_")
        try:
            gen = EventGenerator(
                seed=13, anomaly_rate=0.02,
                now=datetime(2024, 3, 15, 12, 0, 0, tzinfo=timezone.utc),
            )
            per_file = n_events // files
            for i in range(files):
                gen.write_csv(gen.generate_batch(per_file), f"{root}/in", f"b{i:03d}.csv")
            cfg = StreamingConfig(
                input_path=f"{root}/in",
                checkpoint_path=f"{root}/ckpt",
                output_path=f"{root}/out",
                max_files_per_trigger=max_files_per_trigger,
            )
            pipe = build_pipeline(spark, cfg)
            t0 = time.time()
            q = pipe.start(trigger_once=True)
            q.awaitTermination(300)
            elapsed = time.time() - t0
            lat_ms: list[float] = []
            for p in q.recentProgress:
                if isinstance(p, str):
                    p = json.loads(p)
                if p.get("numInputRows", 0) > 0:
                    lat_ms.append(float(p["durationMs"]["triggerExecution"]))
            lat_ms.sort()
            return {"elapsed": elapsed, "lat_ms": lat_ms}
        finally:
            shutil.rmtree(root, ignore_errors=True)

    # throughput: all files in one availableNow batch (r1-comparable)
    tput = run("tput", files=4, max_files_per_trigger=4)
    # latency distribution: 1 file per micro-batch -> 8 p50/p95 samples
    lat = run("lat", files=8, max_files_per_trigger=1)
    return {
        "streaming_pipeline_20k_events": round(tput["elapsed"], 3),
        "streaming_events_per_sec": round(n_events / tput["elapsed"], 1),
        "streaming_batches": len(lat["lat_ms"]),
        "streaming_batch_latency_p50_sec": round(_percentile(lat["lat_ms"], 0.50) / 1000, 3),
        "streaming_batch_latency_p95_sec": round(_percentile(lat["lat_ms"], 0.95) / 1000, 3),
    }


def main() -> None:
    load_start = _host_load()
    # amortize parquet listing/footer reads across the suite (the
    # driver's correctness runs stay stateless -- this is bench-only)
    os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from spark_streaming_postgres_lab2_spark import queries as inventory
    from spark_streaming_postgres_lab2_spark.session import build_session

    spark = build_session()
    qs = inventory.queries()

    # warmup: JVM + codegen + parquet footer caches
    qs["tpch_q1"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # one-time bucketed layout cost, reported separately so the
    # fact_join_bucketed timing reflects steady-state reads (at scale
    # the write is amortized over every subsequent co-located join)
    from spark_streaming_postgres_lab2_spark.sources.bucketing import ensure_bucketed

    t0 = time.time()
    ensure_bucketed(spark, sf_dir, "lineitem", "l_orderkey", 16)
    ensure_bucketed(spark, sf_dir, "orders", "o_orderkey", 16)
    bucket_write_sec = round(time.time() - t0, 3)

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))
    # SPARK_GRAFT_BENCH_ONLY=q1,q2 scopes the suite for regression
    # bisection (streaming is skipped unless named); the full suite
    # remains the default artifact
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    only = [q for q in only_env.split(",") if q] or None
    bench_list = [q for q in BENCH_QUERIES if only is None or q in only]
    # interleaved passes (VERDICT r12 item 2): pass 1 = every query
    # once (cold), passes 2..N = every query once more each; a host
    # ramp then spreads across the suite instead of landing on one
    # query's consecutive samples
    def drop_checkpoint_blocks() -> None:
        # localCheckpoint blocks left by one query inflate the NEXT
        # query's timing via block-manager/GC pressure (the same
        # session-state mechanism SCALING.md r13 measured at 2-7x on
        # sf10) -- and interleaving makes every warm sample adjacent to
        # a DIFFERENT query's leftovers, so the residue must go between
        # timings.  The deliberate table cache
        # (SPARK_GRAFT_CACHE_TABLES) is untouched: it is a driver-side
        # dict of DataFrame handles (plan/footer reuse,
        # sources/tables.py:144), not block-manager state.
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            # blocking=True: non-blocking removal is asynchronous, so
            # eviction/GC work would overlap the NEXT timed run -- the
            # exact cross-query residue this helper exists to remove
            # (r13 advice)
            it.next()._2().unpersist(True)

    samples: dict[str, list[float]] = {name: [] for name in bench_list}
    pass_host_load: list[dict] = []
    for _ in range(n_runs):
        pass_host_load.append(_host_load())
        for name in bench_list:
            drop_checkpoint_blocks()
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in bench_list:
        cold[name] = round(samples[name][0], 3)
        warm = samples[name][1:] or samples[name]  # n_runs=1: cold IS the estimate
        timings[name] = round(statistics.median(warm), 3)

    # streaming twice: first run pays source-listing + state-store
    # setup; the second is the steady-state number (±15% run-to-run
    # variance documented in SCALING.md -- the cold/warm split keeps
    # that noise out of round-over-round comparisons)
    if only is None or "streaming_pipeline_20k_events" in only:
        stream_cold = bench_streaming_pipeline(spark)
        stream = bench_streaming_pipeline(spark)
        timings["streaming_pipeline_20k_events"] = stream["streaming_pipeline_20k_events"]
        cold["streaming_pipeline_20k_events"] = stream_cold["streaming_pipeline_20k_events"]
    else:
        stream_cold = stream = {}

    total = round(sum(timings.values()), 3)
    cold_total = round(sum(cold.values()), 3)
    # Key ORDER is part of the artifact contract (VERDICT r5 item 3):
    # the driver's committed BENCH_r{N}.json may be tail-captured, so
    # the cold map goes FIRST and the warm medians + a compact summary
    # go LAST -- a truncated read then sees the comparable (warm)
    # numbers, not the noisy cold ones.
    out = {
        "metric": "headline_query_suite_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "runs_per_query": n_runs,
        "bucketed_layout_write_sec": bucket_write_sec,
        "queries_cold": cold,
    }
    out.update({k: v for k, v in stream.items() if k != "streaming_pipeline_20k_events"})
    if "streaming_events_per_sec" in stream_cold:
        out["streaming_events_per_sec_cold"] = stream_cold["streaming_events_per_sec"]
    out["queries"] = timings
    out["summary"] = {
        "warm_total_sec": total,
        "cold_total_sec": cold_total,
        "n_queries": len(timings),
        "streaming_events_per_sec_warm": stream.get("streaming_events_per_sec"),
        "streaming_events_per_sec_cold": stream_cold.get("streaming_events_per_sec"),
        # host-load evidence (VERDICT r11 item 4): start/end snapshots
        # so a loaded driver window is classifiable from the artifact;
        # per-pass snapshots (r12 item 2) additionally locate WHICH
        # interleaved pass a ramp hit
        "host_load": {
            "start": load_start,
            "per_pass": pass_host_load,
            "end": _host_load(),
        },
    }
    # The BASELINE.md comparable (VERDICT r10 item 4): the reference's
    # max sustainable streaming throughput is ~167 events/s (10,000
    # events/min, docs/performance_metrics.md:112); warm events/s is
    # the round-over-round-stable metric on this shared host (suite
    # totals swing +/-50% with host load -- adjudicate any total drift
    # with perfbench/compare.py, not by eye).
    ev = stream.get("streaming_events_per_sec")
    if ev:
        cold_ev = stream_cold.get("streaming_events_per_sec")
        out["summary"]["baseline_comparison"] = {
            "metric": "streaming_events_per_sec_warm",
            "reference_max_sustainable": 166.7,
            "speedup_vs_reference": round(ev / 166.7, 1),
            # the conservative same-run floor: min(cold, warm) of this
            # suite run, so a reader of the summary block alone sees
            # the worst same-run reading next to the headline one.
            # cold_ev=0.0 is a REAL (alarming) reading, not a missing
            # one -- only None means "cold pass absent" (r14 review)
            "speedup_vs_reference_floor": round(
                (min(ev, cold_ev) if cold_ev is not None else ev) / 166.7, 1
            ),
            # r13 measurement (NOTES round-13): byte-identical code
            # measured 4,972 / 1,052.8 / 1,123.8 ev/s within hours on
            # this shared host -- a 4x spread invisible to loadavg
            # (CPU steal).  Warm ev/s is therefore NOT comparable
            # round-over-round by eye; adjudicate any drift with
            # perfbench/compare.py's alternated parent/change pairs.
            "caveat": (
                "warm ev/s swings up to 4x run-to-run on identical "
                "code (shared-host CPU steal, invisible to loadavg); "
                "compare commits only via perfbench/compare.py "
                "alternated pairs, never by eye"
            ),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
