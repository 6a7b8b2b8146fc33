"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "cpus": ...}

The per-query number is the MEDIAN of $SPARK_GRAFT_BENCH_RUNS (default 3)
wall-clock runs — plan + execution + driver-side collect of the
already-small result — so a one-off GC/compilation hiccup doesn't read as
a regression at ~1 s granularity. A warmup query runs first so
JVM/codegen startup isn't billed to the first key. The line also records
the git head, the session's core count and the 1-min loadavg: compare its
numbers only with a line taken on the same box and core count. Nothing is
written to disk; `perfbench/run.py` is the gated benchmark.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dodo_spark import registry
from dodo_spark.session import get_spark

# Headline set: the heavier, shuffle/join/window-shaped keys. Everything
# else still runs in the driver's correctness pass.
HEADLINE = [
    "agg_group",
    "join_inner",
    "join_theta",
    "agg_distinct",
    "agg_cube",
    "window_rank",
    "window_frame",
    "topk_per_group",
    "sort_limit",
    "subquery_in",
    "cte_reuse",
    "scan_project_filter",
    "explode_array",
    "scalar_json",
    "text_match",
    "analytics_shipping_priority",
    "analytics_revenue_by_nation",
    "analytics_order_funnel",
    "analytics_market_share",
    "analytics_returned_revenue",
    "analytics_priority_mix",
    "analytics_nation_volume",
    "analytics_large_orders",
    "dedup_exact",
    "dedup_near",
    "events_tumbling",
    "text_stats",
    "stats_column",
    "agg_key_merge",
    "events_funnel",
    # LLM-pipeline families (beyond-reference surface, perf evidence)
    "similarity_topk_vectorized",
    "similarity_ivf_pruned",
    "corpus_clean",
    # stats form, not raw pairs: the pair list is 1.9M rows at sf0.1 and a
    # bench collect() would measure driver transfer, not the banded join
    "dedup_simhash_stats",
    # audit-dump pipeline stages at bench scale
    "auditlog_extract",
    "query_filter_dedup",
    # round-3 additions: broadcast n-gram decontamination, Arrow-batch decode
    "text_decontaminate",
    "multimodal_headers",
    # round-4 addition: posting-list MATCH (scan-side term filter)
    "text_match_tokens",
    # round-4 continuation: retrieval, PQ, warehouse and journey shapes
    "search_hybrid_rrf",
    "similarity_pq",
    "events_top_paths",
    "text_chunk_split",
    "scd2_history",
    "analytics_customer_distribution",
    "stats_correlation",
    "embedding_outlier_detect",
    "events_robust_anomaly",
    "text_cooccur",
    "text_winnow",
    "agg_quantile_sketch",
    "dedup_winnow",
    "time_travel_diff",
    "multimodal_dedup",
    "sample_weighted",
    "entity_resolution",
    "stats_equidepth",
    "text_boilerplate_chunks",
    # round-4: the TPC-H completion set's heavy shapes (Q6 scan probe,
    # Q9 5-table profit tree, Q20 double-agg nested-IN, Q21 lone-late-
    # supplier aggregate rewrite)
    "analytics_forecast_revenue",
    "analytics_product_profit",
    "analytics_excess_suppliers",
    "analytics_waiting_suppliers",
    # round-4: sketch/graph/profiling additions
    "graph_pagerank",
    "agg_heavy_hitters",
    "events_ohlc",
    "stats_fd_check",
    # round-5: unified ANN dispatcher (ivf tier) + incremental time travel
    "ann_dispatch",
    "time_travel_incremental",
    # round-6: versioned-manifest IVF maintenance + training-data packing
    "similarity_ivf_append",
    "corpus_pack_sequences",
    # round-6 closing batch: bigram-df novelty scoring (posting-list join
    # over bigram occurrences — the heaviest new shape), temperature
    # mixture weights, and the near-dup ingest gate (batch-vs-base banded
    # probe, the flagship dedup family's ingestion form)
    "text_lm_novelty",
    "corpus_mix_temperature",
    "dedup_incremental_near",
    # round-7: tokenizer-training pair counts, mixture execution by
    # deterministic downsampling, and the quality-cascade attrition report
    "text_bpe_pairs",
    "corpus_resample_importance",
    "corpus_filter_funnel",
    "text_ngram_lm_counts",
    "profile_k_anonymity",
    "dedup_semantic_cells",
    "source_jsonl_corpus",
    "streaming_jsonl_ingest",
    "profile_l_diversity",
    "corpus_dedup_funnel",
    "dedup_span_windows",
    # round-7 continuation: CDC-fed incremental materialized-view
    # maintenance over the versioned commit log
    "materialized_agg_refresh",
    "layout_zorder",
    "join_bucketed",
    "corpus_domain_cap",
    "text_bm25",
    "text_lm_score_kn",
    "profile_key_skew",
    "events_asof_forward",
    "events_asof_nearest",
    "agg_mode",
    "corpus_shard_shuffle",
    "cte_recursive",
    "events_cohort_revenue",
    "stats_benford",
    "profile_join_cardinality",
    "scd2_pit_join",
    "events_markov_transitions",
    "streaming_trending_drain",
    "analytics_rfm_segments",
    "window_range_time",
    "agg_count_min",
    "time_travel_clone",
    # round-7 continuation 2: runtime scan pruning (bloom semi-join +
    # dynamic partition pruning), delta-join view maintenance, theta
    # sketch set algebra, and MMR diversified re-ranking
    "join_bloom_prune",
    "join_partition_pruned",
    "materialized_join_refresh",
    "agg_kmv_theta",
    "similarity_mmr",
    "events_cuped",
    "profile_expectations",
    "time_travel_delete_mor",
    "streaming_cdc_apply",
    "anonymize_k_generalize",
    "time_travel_schema_evolution",
    "time_travel_bloom_index",
    "analytics_forecast_holt",
    "time_travel_add_files",
    # round-8: compaction-aware bloom-index maintenance (zorder rewrite
    # rebuilds the per-file bitmaps in the same commit)
    "time_travel_bloom_compact",
    # round-8: retention-gated CDC tombstone reclaim
    "cdc_purge_tombstones",
    # round-8: self-contained byte-copy clone
    "time_travel_deep_clone",
    # round-11: exact MATCH_PHRASE (positional posting intersection)
    "text_match_phrase",
    # round-12: headline slot for the zip_with-folded n-gram kernel (the
    # r11 late-pass optimization), so its win is tracked by the sidecar
    "text_repetition",
    # round-12: BPE merge application (vocabulary-granularity encode)
    "text_bpe_encode",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    def loadavg_1m() -> float:
        try:
            return round(os.getloadavg()[0], 2)
        except OSError:
            return -1.0

    loadavg_start = loadavg_1m()
    spark = get_spark("dodo_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    all_queries = registry.queries()

    # warmup: touch the biggest table once (JVM + codegen + FS cache)
    all_queries["agg_group"](spark, sf_dir).collect()

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    def measure(name) -> float:
        fn = all_queries[name]
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            rows = df.collect()
            samples.append(time.perf_counter() - t0)
            del rows
        return round(statistics.median(samples), 4)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name in all_queries:
            timings[name] = measure(name)

    def git_head() -> str:
        """Git sha of the measured tree (+dirty marker), so the line
        proves WHICH code it timed."""
        import subprocess

        try:
            root = os.path.dirname(os.path.abspath(__file__))
            sha = subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                cwd=root, capture_output=True, text=True, timeout=10,
            ).stdout.strip()
            status = subprocess.run(
                ["git", "status", "--porcelain", "--untracked-files=no"],
                cwd=root, capture_output=True, text=True, timeout=10,
            ).stdout
            # the driver appends to PROGRESS.jsonl continuously; it is
            # not measured code, so it doesn't make the sha "dirty"
            dirty = [
                ln for ln in status.splitlines()
                if ln.strip() and not ln.endswith("PROGRESS.jsonl")
            ]
            return sha + ("+dirty" if dirty else "") if sha else "unknown"
        except Exception:  # noqa: BLE001 — metadata is best-effort
            return "unknown"

    total = round(sum(timings.values()), 4)
    payload = {
        "metric": "headline_queries_total_wall",
        "git_head": git_head(),
        "value": total,
        "unit": "sec",
        # SORTED key order: the driver's record of this line truncates
        # from the tail, so a stable ordering keeps the same keys
        # comparable across rounds (r7 verdict: only 16 keys overlapped
        # between two rounds' truncated tails)
        "queries": dict(sorted(timings.items())),
        "sf": sf,
        "runs_per_query": runs,
        "cpus": spark.sparkContext.defaultParallelism,
        "loadavg_1m": {"start": loadavg_start, "end": loadavg_1m()},
    }
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
