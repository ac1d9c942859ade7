"""Tests of the traced-run reducer on a hand-written trace.

    python3 -m pytest perfbench/test_reduce.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import reduce  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402

OPS = [
    {"op": "op-0", "key": "agg_a", "module": "ops.aggs", "start": 100.0, "end": 101.0, "ok": True},
    {"op": "op-1", "key": "llm_b", "module": "llm.dedup", "start": 101.0, "end": 102.5, "ok": True},
]


def _span(sid, name, parent, op, start, end):
    return {"id": sid, "name": name, "parent": parent, "op": op, "start": start, "end": end}


SPANS = [
    _span(0, "registry.op", None, "op-0", 100.0, 101.0),
    _span(1, "registry.build", 0, "op-0", 100.0, 100.4),
    _span(2, "tables.load", 1, "op-0", 100.05, 100.1),
    _span(3, "spark.materialize", 0, "op-0", 100.4, 101.0),
    _span(4, "registry.op", None, "op-1", 101.0, 102.5),
    _span(5, "registry.build", 4, "op-1", 101.0, 102.0),
    _span(6, "llm.dedup.quotient_token_sets", 5, "op-1", 101.1, 101.2),
    _span(7, "llm.dedup.prefix_filter_pairs", 5, "op-1", 101.2, 101.9),
    _span(8, "spark.materialize", 4, "op-1", 102.0, 102.5),
]


def _job(jid, t0, t1, stages, group=None, span=None):
    props = {}
    if group is not None:
        props["spark.jobGroup.id"] = group
    if span is not None:
        props["perfbench.span"] = str(span)
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1,
         "Job Result": {"Result": "JobSucceeded"}},
    ]


def _task(stage, run_ms, reason="Success", accs=(), **tm):
    metrics = {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
               "Executor Deserialize Time": 1, "JVM GC Time": 2, **tm}
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Failed": reason != "Success", "Accumulables": list(accs)},
            "Task Metrics": metrics}


def _log():
    ev = []
    ev += _job(9, 99_000, 99_500, [9], group="check-0")  # before the timed ops
    start0, end0 = _job(0, 100_500, 100_800, [0], group="op-0", span=3)
    ev += [start0,
           {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
           _task(0, 100, **{"Shuffle Write Metrics": {"Shuffle Bytes Written": 300},
                            "Peak Execution Memory": 64}),
           _task(0, 50, **{"Input Metrics": {"Bytes Read": 1000}}),
           end0]
    start1, end1 = _job(1, 100_700, 100_900, [2], group="op-0", span=3)
    ev += [start1, _task(2, 10, reason="ExceptionFailure"), end1]
    start2, end2 = _job(2, 101_300, 101_800, [1], group="op-1", span=7)
    ev += [start2,
           _task(1, 400, accs=[
               {"ID": 76, "Name": "time to run Python workers", "Update": "200"},
               {"ID": 77, "Name": "data sent to Python workers", "Update": 1000},
           ], **{"Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7}}),
           end2]
    # a job from another thread, carrying neither property: placed by time
    ev += _job(3, 102_100, 102_300, [3])
    return [json.dumps(e) for e in ev]


@pytest.fixture()
def jobs():
    return reduce.parse_event_log(_log())


def test_union_length():
    assert reduce.union_length([]) == 0
    assert reduce.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert reduce.union_length([(3, 4), (0, 1), (1, 1.5)]) == pytest.approx(2.5)


def test_self_time_subtracts_children():
    st = reduce.self_times(SPANS)
    assert st[5] == pytest.approx(1.0 - 0.1 - 0.7)
    assert st[0] == pytest.approx(0.0)
    assert st[7] == pytest.approx(0.7)


def test_jobs_go_to_innermost_span(jobs):
    owner = reduce.attribute_jobs(SPANS, OPS, jobs)
    assert owner == {0: ("op-0", 3), 1: ("op-0", 3), 2: ("op-1", 7), 3: ("op-1", 8)}


def test_span_table_counts_jobs_inclusively(jobs):
    owner = reduce.attribute_jobs(SPANS, OPS, jobs)
    t = reduce.span_table(SPANS, owner)
    assert t["registry.build"]["jobs"] == 1
    assert t["spark.materialize"]["jobs"] == 3
    assert t["registry.op"]["jobs"] == 4
    assert t["llm.dedup.prefix_filter_pairs"] == pytest.approx(
        {"calls": 1, "s": 0.7, "self_s": 0.7, "jobs": 1})
    assert t["tables.load"]["calls"] == 1


def test_reduce_trace(jobs):
    progress = [
        {"timestamp": 101.5, "durationMs": {
            "triggerExecution": 300, "addBatch": 200, "walCommit": 20, "commitOffsets": 10}},
        # a batch of the untimed correctness pass: outside every operation
        {"timestamp": 99.2, "durationMs": {"triggerExecution": 900}},
    ]
    m = reduce.reduce_trace(SPANS, OPS, jobs, progress, [99.1, 101.05], cores=4)
    assert m["spark.jobs"] == 4
    assert m["spark.stages"] == 1
    assert m["spark.tasks"] == 4
    assert m["spark.failed_tasks"] == 1
    assert m["spark.job_span_s"] == pytest.approx(0.4 + 0.5 + 0.2)
    assert m["spark.driver_gap_s"] == pytest.approx(2.5 - 1.1)
    assert m["spark.task_run_s"] == pytest.approx(0.56)
    assert m["spark.task_cpu_s"] == pytest.approx(0.56)
    assert m["spark.gc_s"] == pytest.approx(0.008)
    assert m["spark.slot_busy_ratio"] == pytest.approx(0.56 / (1.1 * 4))
    assert m["spark.shuffle_read_bytes"] == 12
    assert m["spark.shuffle_write_bytes"] == 300
    assert m["spark.input_bytes"] == 1000
    assert m["spark.peak_exec_mem_bytes"] == 64
    assert m["spark.python_run_s"] == pytest.approx(0.2)
    assert m["spark.python_bytes_sent"] == 1000
    assert m["registry.build_s"] == pytest.approx(1.4)
    assert m["registry.build_jobs"] == 1
    assert m["spark.materialize_s"] == pytest.approx(1.1)
    assert m["ops.aggs.s"] == pytest.approx(1.0)
    assert m["ops.aggs.jobs"] == 2
    assert m["llm.dedup.s"] == pytest.approx(1.5)
    assert m["llm.dedup.prefix_filter_pairs.jobs"] == 1
    assert m["llm.dedup.quotient_token_sets.s"] == pytest.approx(0.1)
    assert m["tables.load.s"] == pytest.approx(0.05)
    assert m["streaming.queries"] == 1
    assert m["streaming.batches"] == 1
    assert m["streaming.trigger_s"] == pytest.approx(0.3)
    assert m["streaming.add_batch_s"] == pytest.approx(0.2)
    assert m["streaming.commit_s"] == pytest.approx(0.03)
    assert m["streaming.idle_s"] == pytest.approx(1.5 - 0.3)


def test_benchmark_json_mirrors_metric_lists():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)
