"""Tests for the event-log fold and the benchmark's metric list.

Run with ``python3 -m pytest perfbench -q``; no Spark needed.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from worker import layer_metrics  # noqa: E402
from workloads import END_TO_END, WORKLOADS, per_layer_units  # noqa: E402

T0 = 1_800_000_000.0


def _span(query, layer, kind, pass_idx, start, end):
    return {"query": query, "layer": layer, "kind": kind, "pass": pass_idx,
            "group": f"{query}#{pass_idx}", "start": T0 + start,
            "end": T0 + end}


def _job(job, submit, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": int((T0 + submit) * 1000),
            "Stage IDs": stages, "Properties": props}


def _job_end(job, end):
    return {"Event": "SparkListenerJobEnd", "Job ID": job,
            "Completion Time": int((T0 + end) * 1000)}


def _task(stage, run_ms, cpu_ns, shuffle=0, py=0):
    acc = [{"ID": 1, "Name": "data sent to Python workers", "Update": str(py)}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": cpu_ns, "JVM GC Time": 10,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": shuffle}}}


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage}}


SPANS = [
    _span("q_a", "operators.similarity", "fn", 2, 0.0, 1.0),
    _span("q_a", "operators.similarity", "sink", 2, 1.0, 3.0),
    _span("q_b", "operators.dedup", "fn", 2, 3.0, 3.5),
    _span("q_b", "operators.dedup", "sink", 2, 3.5, 4.0),
]

EVENTS = [
    # eager job inside q_a's function, from a worker thread: no group
    _job(0, 0.2, [0]), _stage_done(0), _task(0, 400, 3e8), _job_end(0, 0.6),
    # q_a's sink: two stages, one shared with a later (skipped) job
    _job(1, 1.0, [1, 2], group="q_a#2"),
    _task(1, 500, 4e8, shuffle=2 * eventlog.MB),
    _task(2, 500, 5e8), _stage_done(1), _stage_done(2), _job_end(1, 2.5),
    # q_b's sink: Python worker traffic
    _job(2, 3.6, [3, 2], group="q_b#2"), _task(3, 100, 1e8, py=eventlog.MB),
    _stage_done(3), _job_end(2, 3.9),
    # a job between runs belongs to no span
    _job(3, 10.0, [4]), _task(4, 100, 1e8), _job_end(3, 10.5),
]


def test_fold_attributes_jobs_by_submission_time():
    f = eventlog.fold(EVENTS, SPANS)
    a_fn, a_sink, b_fn, b_sink = f["spans"]
    assert f["unattributed_jobs"] == 1
    assert f["ungrouped_jobs"] == 1  # job 0: no group, still attributed
    assert (a_fn["jobs"], a_sink["jobs"], b_fn["jobs"], b_sink["jobs"]) == (1, 1, 0, 1)
    assert a_fn["tasks"] == 1 and a_fn["stages"] == 1
    assert abs(a_fn["job_busy_s"] - 0.4) < 1e-2
    assert a_sink["stages"] == 2 and a_sink["tasks"] == 2
    assert abs(a_sink["task_cpu_s"] - 0.9) < 1e-9
    assert abs(a_sink["task_run_s"] - 1.0) < 1e-9
    assert abs(a_sink["shuffle_write_mb"] - 2.0) < 1e-9
    assert abs(a_sink["gc_s"] - 0.02) < 1e-9
    # stage 2 ran under job 1; its listing in job 2 is a skipped reuse
    assert b_sink["stages"] == 1 and b_sink["tasks"] == 1
    assert abs(b_sink["py_mb"] - 1.0) < 1e-9


def test_fold_job_submitted_in_first_millisecond_of_span():
    spans = [_span("q", "operators.similarity", "sink", 1, 5.0004, 6.0)]
    f = eventlog.fold([_job(0, 5.0004, [0]), _job_end(0, 5.5)], spans)
    assert f["unattributed_jobs"] == 0 and f["spans"][0]["jobs"] == 1


def test_layer_metrics_are_per_pass_means_and_driver_gap():
    f = eventlog.fold(EVENTS, SPANS)
    retained = [{"layer": "operators.similarity", "pass": 2, "mb": 12.0},
                {"layer": "operators.dedup", "pass": 0, "mb": 99.0}]
    m = layer_metrics(SPANS, f, retained, n_timed=1)
    assert abs(m["operators.similarity.fn_s"] - 1.0) < 1e-9
    assert abs(m["operators.similarity.sink_s"] - 2.0) < 1e-9
    # 3 s of spans, 0.4 s + 1.5 s inside jobs
    assert abs(m["operators.similarity.driver_gap_s"] - 1.1) < 1e-2
    assert m["operators.similarity.jobs"] == 2
    assert m["operators.similarity.retained_mb"] == 12.0
    assert "operators.dedup.retained_mb" not in m  # untimed pass excluded
    assert abs(m["operators.dedup.py_mb"] - 1.0) < 1e-9


def test_first_fn_s_comes_from_the_first_pass_only():
    spans = [_span("q_b", "operators.dedup", "fn", 0, 0.0, 2.5),
             _span("q_b", "operators.dedup", "sink", 0, 2.5, 3.0),
             _span("q_a", "operators.similarity", "fn", 0, 3.0, 4.0),
             _span("q_b", "operators.dedup", "fn", 1, 4.0, 4.5),
             _span("q_b", "operators.dedup", "fn", 2, 5.0, 5.3)]
    m = layer_metrics(spans, eventlog.fold([], spans), [], n_timed=2)
    assert abs(m["operators.dedup.first_fn_s"] - 2.5) < 1e-9
    assert abs(m["operators.dedup.fn_s"] - 0.4) < 1e-6
    assert "operators.similarity.first_fn_s" not in m  # not a counter of that layer


def test_codegen_failures_attributed_by_log_time(tmp_path):
    stamp = time.strftime("%y/%m/%d %H:%M:%S", time.localtime(T0 + 3.2))
    log = tmp_path / "driver.log"
    log.write_text(
        f"{stamp} ERROR CodeGenerator: Failed to compile the generated Java code.\n"
        f"{stamp} WARN WholeStageCodegenExec: Whole-stage codegen disabled\n"
        "org.codehaus.commons.compiler.InternalCompilerException: Code grows\n")
    out = eventlog.codegen_failures(str(log), SPANS)
    assert [o["query"] for o in out] == ["q_b"]


def test_benchmark_json_matches_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for w in bench["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]]["why"]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == per_layer_units()
