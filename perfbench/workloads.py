"""The benchmark's workloads.

A workload is a fixed panel of registry keys, the keys one run executes.
Each panel is a stratified subset of the registry modules its workload
stands for (README.md lists them, and the metrics no panel reaches): every
key passes its oracle on the generated input, and a run, with set-up,
correctness pass and timed passes, fits a budget of 22 runs per workload
plus 4, all in 3,420 s.
"""

from __future__ import annotations

MIN_PASSES = 1

WORKLOADS = {
    # Analysts' short queries over the staged lake.  JVM-only plans where
    # per-job scheduling, driver-side planning and tables.load dominate;
    # no Python workers, dedup kernels or writes, so this is the
    # no-change control for LLM-kernel and write-path changes.
    # An odd panel size keeps the median on one key's samples instead of
    # straddling the gap between two keys' latencies.
    "lake_query": {
        "resample_corpus": False,
        "pass_s": 5.0,
        "panel": (
            "agg_count_distinct", "join_asof", "win_rank_dense", "ts_session",
            "fn_higher_order", "subq_scalar", "set_intersect", "filter_pred", "sort_multi",
            "scan_project", "scan_all_tables_counts",
        ),
    },
    # Engineers' batch pipelines: LLM-corpus curation over a seed-resampled
    # corpus (Arrow kernels on Python workers, the self-routing near-dup
    # pipeline, the k-means and PageRank fixpoints, BPE pair counts) next
    # to lake ingest (staging, schema evolution, alert logs, the catalog
    # log, an availableNow stream with checkpoints).  The only workload
    # that writes beside its reads.
    "ingest_curation": {
        "resample_corpus": True,
        "pass_s": 20.0,
        "panel": (
            "llm_near_dup_auto", "llm_kmeans", "llm_graph_pagerank", "llm_simhash",
            "llm_gopher_rules", "llm_bpe_pair_count", "mm_phash_dedup",
            "catalog_search_tokens", "ingest_alert_log", "ingest_schema_evolution",
            "lake_time_travel", "lake_gdpr_delete", "stream_checkpoint_recovery",
        ),
    },
}


def passes(name: str, seconds: float) -> int:
    """Whole panel passes that fill ``seconds`` at the nominal pass time."""
    return max(MIN_PASSES, round(seconds / WORKLOADS[name]["pass_s"]))
