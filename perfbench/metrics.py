"""The benchmark's metric lists; ``BENCHMARK.json`` mirrors them.

End-to-end metrics come from untraced runs.  Per-layer metrics come from
a traced run; additive ones (counts, seconds, bytes) are totals per
panel pass, i.e. per execution of every panel key once.

Peak RSS (JVM plus driver Python VmHWM) is a per-layer metric, not an
end-to-end one: in runs this short the JVM's heap growth steps land at
different points, and the value spreads by about 30 % between seeds,
more than any end-to-end bound allows.  Every run record carries it.
"""

from __future__ import annotations

END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("op_p90_s", "s"),
    ("ops_per_s", "1/s"),
    ("stored_bytes_per_input_byte", "ratio"),
)

_DEDUP = ("quotient_token_sets", "prefix_filter_pairs", "prefix_df_median", "near_dup",
          "minhash_lsh_pairs")
_SIM = ("kmeans_fit", "kmeans_cells", "pq_fit")
_OPS_Q = ("aggs", "joins", "windows", "timeseries", "functions", "subqueries", "setops",
          "filters", "sorts")
_OPS_I = ("lake", "scans", "quality")
_CATALOG = ("build_catalog", "files_metadata", "search_tokens", "append_entries",
            "latest_state")
_INGEST = ("ingest", "ingest_evolving", "ingest_with_alerts", "record_alert")

_RATIO = {"spark.slot_busy_ratio", "llm.dedup.quotient_reuse_ratio", "io.small_file_share",
          "proc.cpu_util"}


def _unit(name: str) -> str:
    if name in _RATIO:
        return "ratio"
    if name == "trace.ops_per_s":
        return "1/s"
    if name == "proc.peak_rss_mb":
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("bytes", "bytes_sent")) or name == "io.bytes_stored":
        return "bytes"
    return "count"


PER_LAYER_NAMES = (
    ["registry.build_s", "registry.build_jobs"]
    + [f"spark.{n}" for n in (
        "materialize_s", "jobs", "stages", "tasks", "job_span_s", "driver_gap_s",
        "task_run_s", "task_cpu_s", "task_deser_s", "gc_s", "slot_busy_ratio",
        "python_run_s", "python_bytes_sent", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "peak_exec_mem_bytes", "input_bytes", "output_bytes", "failed_tasks",
    )]
    + [f"tables.{n}" for n in (
        "load.calls", "load.s", "fast_count.calls", "fast_count.s", "spread.calls",
    )]
    + [f"llm.dedup.{f}.{w}" for f in _DEDUP for w in ("calls", "s", "jobs")]
    + ["llm.dedup.quotient_reuse_ratio"]
    + [f"llm.similarity.{f}.{w}" for f in _SIM for w in ("calls", "s", "jobs")]
    + [f"llm.{m}.{w}" for m in ("graph", "text", "vocab", "multimodal") for w in ("s", "jobs")]
    + [f"ops.{m}.{w}" for m in _OPS_Q for w in ("s", "jobs")]
    + ["ops.asof.asof_join.calls", "ops.asof.asof_join.s"]
    + [f"ops.{m}.{w}" for m in _OPS_I for w in ("s", "jobs")]
    + [f"catalog.{f}.{w}" for f in _CATALOG for w in ("calls", "s")]
    + [f"io.ingest.{f}.{w}" for f in _INGEST for w in ("calls", "s")]
    + ["io.files_stored", "io.bytes_stored", "io.small_file_share"]
    + [f"streaming.{n}" for n in (
        "queries", "batches", "trigger_s", "add_batch_s", "commit_s", "idle_s",
    )]
    + ["session.conf_changes", "proc.cpu_s", "proc.cpu_util", "proc.py_workers",
       "proc.peak_rss_mb", "trace.ops_per_s"]
)

PER_LAYER = tuple((n, _unit(n)) for n in PER_LAYER_NAMES)

# reported as levels over the run, not divided by the number of passes
LEVELS = _RATIO | {"spark.peak_exec_mem_bytes", "proc.py_workers", "proc.peak_rss_mb",
                   "io.files_stored", "io.bytes_stored", "trace.ops_per_s"}
