"""Reduce a traced run to per-layer metrics.

Inputs are plain data, so the reducer runs (and is tested) without Spark:

- ``spans``: dicts ``{id, name, parent, op, start, end}`` written by
  ``tracing.Tracer`` (times in epoch seconds);
- ``ops``: dicts ``{op, key, module, start, end, ok}``, one per timed
  operation;
- the Spark event log lines (uncompressed, one JSON event per line);
- ``progress``: streaming progress records ``{timestamp, durationMs}``
  from the benchmark's ``StreamingQueryListener``, plus the query start
  times.  Only those inside a timed operation count.

A job belongs to the operation named by its job group and to the span
named by its ``perfbench.span`` local property (the innermost span open
when the job was submitted).  Jobs that carry neither, such as jobs a
streaming query starts on its own thread, are placed by time: the
innermost span, then the operation, whose interval holds the job's
submission.
"""

from __future__ import annotations

import json
from collections import defaultdict

SPAN_PROP = "perfbench.span"
GROUP_PROP = "spark.jobGroup.id"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"

TASK_SUMS = {
    # metric name: (path into "Task Metrics", scale to the metric's unit)
    "spark.task_run_s": (("Executor Run Time",), 1e-3),
    "spark.task_cpu_s": (("Executor CPU Time",), 1e-9),
    "spark.task_deser_s": (("Executor Deserialize Time",), 1e-3),
    "spark.gc_s": (("JVM GC Time",), 1e-3),
    "spark.shuffle_read_bytes": (
        ("Shuffle Read Metrics", "Remote Bytes Read"),
        ("Shuffle Read Metrics", "Local Bytes Read"),
    ),
    "spark.shuffle_write_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"),),
    "spark.spill_bytes": (("Disk Bytes Spilled",),),
    "spark.input_bytes": (("Input Metrics", "Bytes Read"),),
    "spark.output_bytes": (("Output Metrics", "Bytes Written"),),
}


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """span id -> duration minus the time its direct children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(
            (max(a, s["start"]), min(b, s["end"])) for a, b in kids[s["id"]] if a < s["end"]
        )
        for s in spans
    }


def _get(d, path):
    for p in path:
        if not isinstance(d, dict):
            return 0
        d = d.get(p, 0)
    return d or 0


def parse_event_log(lines) -> dict:
    """Jobs from an event log, each with its stages, task totals and
    Python-worker SQL metrics.  Times are epoch seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"] / 1e3,
                "end": None,
                "group": props.get(GROUP_PROP),
                "span": props.get(SPAN_PROP),
                "stages": set(),
                "tasks": 0,
                "failed_tasks": 0,
                "peak_exec_mem_bytes": 0,
                "python_run_s": 0.0,
                "python_bytes_sent": 0,
                "ok": True,
            }
            job.update({m: 0 for m in TASK_SUMS})
            jobs[job["id"]] = job
            for sid in ev.get("Stage IDs", ()):
                stage_job[sid] = job["id"]
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1e3
                job["ok"] = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageSubmitted":
            job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if job is not None:
                job["stages"].add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            job["tasks"] += 1
            info = ev.get("Task Info") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                job["failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            for metric, spec in TASK_SUMS.items():
                scale = spec[-1] if isinstance(spec[-1], float) else 1
                paths = [p for p in spec if isinstance(p, tuple)]
                job[metric] += sum(_get(tm, p) for p in paths) * scale
            job["peak_exec_mem_bytes"] = max(
                job["peak_exec_mem_bytes"], _get(tm, ("Peak Execution Memory",))
            )
            for acc in info.get("Accumulables", ()):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name == PY_RUN:
                    # a timing SQL metric: milliseconds
                    job["python_run_s"] += float(upd) / 1e3
                elif name == PY_SENT:
                    job["python_bytes_sent"] += int(upd)
    return jobs


def attribute_jobs(spans, ops, jobs) -> dict:
    """job id -> (op id, span id or None), for jobs inside a timed op."""
    by_id = {s["id"]: s for s in spans}
    op_ids = {o["op"] for o in ops}
    out = {}
    for jid, job in jobs.items():
        span = by_id.get(int(job["span"])) if job["span"] not in (None, "") else None
        op = job["group"] if job["group"] in op_ids else None
        if span is not None:
            op = span["op"]
        if op is None:
            op = next(
                (o["op"] for o in ops if o["start"] <= job["start"] <= o["end"]), None
            )
        if op is None:
            continue
        if span is None:
            inside = [
                s for s in spans
                if s["op"] == op and s["start"] <= job["start"] <= s["end"]
            ]
            span = max(inside, key=lambda s: s["start"], default=None)
        out[jid] = (op, span["id"] if span is not None else None)
    return out


def _ancestors(spans):
    """span id -> set of its ancestors' ids, itself included."""
    by_id = {s["id"]: s for s in spans}
    memo: dict = {}

    def up(sid):
        if sid not in memo:
            parent = by_id[sid]["parent"]
            memo[sid] = {sid} | (up(parent) if parent in by_id else set())
        return memo[sid]

    return {sid: up(sid) for sid in by_id}


def span_table(spans, owner) -> dict:
    """Per span name: calls, inclusive seconds (outermost calls only, so
    recursion is not counted twice), self seconds, and jobs submitted
    inside the span or its descendants."""
    anc = _ancestors(spans)
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    table: dict[str, dict] = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0})
    for s in spans:
        row = table[s["name"]]
        row["calls"] += 1
        row["self_s"] += selfs[s["id"]]
        if not any(by_id[a]["name"] == s["name"] for a in anc[s["id"]] - {s["id"]}):
            row["s"] += s["end"] - s["start"]
    for _op, sid in owner.values():
        if sid is None:
            continue
        for name in {by_id[a]["name"] for a in anc[sid]}:
            table[name]["jobs"] += 1
    return dict(table)


def reduce_trace(spans, ops, jobs, progress=(), stream_starts=(), cores=1) -> dict:
    """Run totals of the per-layer metrics over the timed operations."""
    owner = attribute_jobs(spans, ops, jobs)
    m: dict[str, float] = defaultdict(float)
    op_by_id = {o["op"]: o for o in ops}
    op_jobs = defaultdict(list)
    for jid, (op, _sid) in owner.items():
        op_jobs[op].append(jobs[jid])
    for o in ops:
        ivs = [
            (max(j["start"], o["start"]), min(j["end"] or o["end"], o["end"]))
            for j in op_jobs[o["op"]]
        ]
        covered = union_length((a, b) for a, b in ivs if b > a)
        m["spark.job_span_s"] += covered
        m["spark.driver_gap_s"] += (o["end"] - o["start"]) - covered
        mod = o["module"]
        m[f"{mod}.s"] += o["end"] - o["start"]
        m[f"{mod}.jobs"] += len(op_jobs[o["op"]])
    peak = 0
    for jid in owner:
        j = jobs[jid]
        m["spark.jobs"] += 1
        m["spark.stages"] += len(j["stages"])
        m["spark.tasks"] += j["tasks"]
        m["spark.failed_tasks"] += j["failed_tasks"]
        m["spark.python_run_s"] += j["python_run_s"]
        m["spark.python_bytes_sent"] += j["python_bytes_sent"]
        for metric in TASK_SUMS:
            m[metric] += j[metric]
        peak = max(peak, j["peak_exec_mem_bytes"])
    m["spark.peak_exec_mem_bytes"] = peak
    busy = m["spark.job_span_s"] * cores
    m["spark.slot_busy_ratio"] = m["spark.task_run_s"] / busy if busy else 0.0

    for name, row in span_table(spans, owner).items():
        if name == "registry.build":
            m["registry.build_s"] = row["s"]
            m["registry.build_jobs"] = row["jobs"]
        elif name == "spark.materialize":
            m["spark.materialize_s"] = row["s"]
        elif name != "registry.op":
            for what in ("calls", "s", "jobs"):
                m[f"{name}.{what}"] = row[what]

    stream_ops = set()
    for p in progress:
        op = _op_at(ops, p["timestamp"])
        if op is None:
            continue
        stream_ops.add(op)
        d = p.get("durationMs") or {}
        m["streaming.batches"] += 1
        m["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
        m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        m["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
    for t in stream_starts:
        op = _op_at(ops, t)
        if op is not None:
            m["streaming.queries"] += 1
            stream_ops.add(op)
    stream_time = sum(op_by_id[o]["end"] - op_by_id[o]["start"] for o in stream_ops)
    m["streaming.idle_s"] = stream_time - m["streaming.trigger_s"]
    return dict(m)


def _op_at(ops, t):
    return next((o["op"] for o in ops if o["start"] <= t <= o["end"]), None)
