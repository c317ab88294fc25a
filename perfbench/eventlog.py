"""Fold a Spark event log and driver log into benchmark call spans.

Standard library only: the traced run writes its event log
uncompressed (Spark 4.1 defaults to zstd, which the stdlib cannot
read), and the driver log is plain log4j text.

A span is one call into the engine: ``{"query", "layer", "kind",
"pass", "group", "start", "end"}`` with epoch-second bounds, where kind
is ``fn`` (the query function, including eager fits and checkpoints)
or ``sink`` (the noop-sink action).  Queries run one after another on
one driver thread, so spans never overlap and a job belongs to the
span whose interval contains its submission time.  That catches jobs
submitted from engine worker threads, which carry no job group.
"""

from __future__ import annotations

import bisect
import json
import re
import time
from collections import defaultdict

MB = 1024 * 1024
PY_ACCUMULABLES = ("data sent to Python workers",
                   "data returned from Python workers")
SPAN_COUNTERS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                 "gc_s", "shuffle_write_mb", "spill_mb", "py_mb",
                 "job_busy_s")

_LOG_TIME = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d) ")
_CODEGEN_FAILURE = re.compile(r"ERROR CodeGenerator: Failed to compile")


def read_events(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class SpanIndex:
    """Maps a timestamp to the span containing it, if any."""

    def __init__(self, spans: list[dict]):
        # Event-log times are whole milliseconds: widen each span to
        # the milliseconds it touches so a job submitted in its first
        # millisecond is not dropped by truncation.
        self.bounds = [(int(s["start"] * 1000) / 1000,
                        (int(s["end"] * 1000) + 1) / 1000) for s in spans]
        self.starts = [b[0] for b in self.bounds]

    def find(self, t: float) -> int | None:
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.bounds[i][1]:
            return i
        return None


def fold(events: list[dict], spans: list[dict]) -> dict:
    """Per-span counters plus run-level attribution counts.

    Returns ``{"spans": [counters per span], "unattributed_jobs": n,
    "ungrouped_jobs": n}``; ``ungrouped_jobs`` counts attributed jobs
    whose job group is missing or names another span (the jobs that
    job-group counting alone would lose)."""
    index = SpanIndex(spans)
    per_span = [dict.fromkeys(SPAN_COUNTERS, 0.0) for _ in spans]
    intervals: dict[int, list[tuple[float, float]]] = defaultdict(list)
    job_span: dict[int, int] = {}
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    unattributed = ungrouped = 0

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            submit = ev["Submission Time"] / 1000
            for stage in ev.get("Stage IDs", []):
                stage_job.setdefault(stage, job)
            i = index.find(submit)
            if i is None:
                unattributed += 1
                continue
            job_span[job] = i
            job_submit[job] = submit
            per_span[i]["jobs"] += 1
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group != spans[i].get("group"):
                ungrouped += 1
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_span:
                i = job_span[job]
                start, end = index.bounds[i]
                lo = max(job_submit[job], start)
                hi = min(ev["Completion Time"] / 1000, end)
                if hi > lo:
                    intervals[i].append((lo, hi))
        elif kind == "SparkListenerStageCompleted":
            job = stage_job.get(ev["Stage Info"]["Stage ID"])
            if job in job_span:
                per_span[job_span[job]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            if job not in job_span:
                continue
            c = per_span[job_span[job]]
            c["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["task_run_s"] += m.get("Executor Run Time", 0) / 1000
            c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000
            c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            c["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / MB
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in PY_ACCUMULABLES:
                    c["py_mb"] += float(acc.get("Update") or 0) / MB

    for i, ivs in intervals.items():
        per_span[i]["job_busy_s"] = _union_length(ivs)
    return {"spans": per_span, "unattributed_jobs": unattributed,
            "ungrouped_jobs": ungrouped}


def codegen_failures(log_path: str, spans: list[dict]) -> list[dict]:
    """Janino compile failures in a driver log, each attributed to the
    query whose span holds its (whole-second) log timestamp."""
    index = SpanIndex(spans)
    out = []
    with open(log_path, encoding="utf-8", errors="replace") as f:
        for line in f:
            if not _CODEGEN_FAILURE.search(line):
                continue
            m = _LOG_TIME.match(line)
            query = None
            if m:
                t = time.mktime(time.strptime(m.group(1), "%y/%m/%d %H:%M:%S"))
                # the log stamp is truncated to the second: take the
                # first span overlapping that second
                for probe in (t + k / 10 for k in range(10)):
                    i = index.find(probe)
                    if i is not None:
                        query = spans[i]["query"]
                        break
            out.append({"query": query, "line": line.strip()[:200]})
    return out
