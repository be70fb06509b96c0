"""Spark event-log parsing and attribution of jobs to spans.

A job belongs to the innermost span that was open when the job was
*submitted*. Attribution by submission time, not by job group: the
versioned writer submits staging writes from driver thread pools, whose
threads do not inherit the caller's local properties, so a job group set
around a call would miss them.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

_MS = 0.001


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    scan_tasks: int = 0  # tasks of stages that read input files
    busy_tasks: int = 0  # tasks that read more than 0 input records
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_records: int = 0
    input_bytes: int = 0
    output_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0

    def add(self, other: "Counters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Job:
    id: int
    submit_s: float
    end_s: float
    stage_ids: list[int]
    counters: Counters = field(default_factory=Counters)


def parse(lines) -> dict[int, Job]:
    """Jobs of an uncompressed event log (an iterable of JSON lines), each
    with the counters of the tasks that ran for it. A stage listed by
    several jobs runs under the first of them; later jobs skip it."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[dict]] = {}
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            j = Job(e["Job ID"], e["Submission Time"] / 1000.0, 0.0, list(e["Stage IDs"]))
            jobs[j.id] = j
            for s in j.stage_ids:
                stage_job.setdefault(s, j.id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_s = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            stage_tasks.setdefault(e["Stage ID"], []).append(e)
    for j in jobs.values():
        j.counters.jobs = 1
    for stage, tasks in stage_tasks.items():
        job = jobs.get(stage_job.get(stage, -1))
        if job is None:
            continue
        c = job.counters
        c.stages += 1
        scan = any(
            (t.get("Task Metrics") or {}).get("Input Metrics", {}).get("Bytes Read", 0)
            for t in tasks
        )
        for t in tasks:
            m = t.get("Task Metrics") or {}
            c.tasks += 1
            c.failed_tasks += bool(t["Task Info"].get("Failed"))
            inp = m.get("Input Metrics", {})
            out = m.get("Output Metrics", {})
            srd = m.get("Shuffle Read Metrics", {})
            c.scan_tasks += scan
            c.busy_tasks += inp.get("Records Read", 0) > 0
            c.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            c.input_records += inp.get("Records Read", 0)
            c.input_bytes += inp.get("Bytes Read", 0)
            c.output_records += out.get("Records Written", 0)
            c.output_bytes += out.get("Bytes Written", 0)
            c.shuffle_read_bytes += srd.get("Remote Bytes Read", 0) + srd.get(
                "Local Bytes Read", 0
            )
            c.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
    return jobs


def attribute(jobs: dict[int, Job], spans) -> tuple[dict[int, list[int]], list[int]]:
    """Map span id -> ids of the jobs submitted while it was the innermost
    open span, and list the jobs no span covers. ``spans`` are
    ``spans.Span`` objects in creation order, so a later start is a
    deeper (or later) span."""
    by_span: dict[int, list[int]] = {}
    lost: list[int] = []
    for j in sorted(jobs.values(), key=lambda j: j.id):
        # the event log truncates to the millisecond: the submission
        # happened somewhere in [submit_s, submit_s + 1 ms)
        lo, hi = j.submit_s, j.submit_s + _MS
        open_ = [s for s in spans if s.start < hi and s.end >= lo]
        if open_:
            by_span.setdefault(max(open_, key=lambda s: s.start).id, []).append(j.id)
        else:
            lost.append(j.id)
    return by_span, lost


def job_intervals(jobs: dict[int, Job], ids) -> list[tuple[float, float]]:
    return [(jobs[i].submit_s, jobs[i].end_s or jobs[i].submit_s) for i in ids]
