"""Per-layer metrics of a traced run.

Layers are the repo's modules. Each metric is measured around the
benchmark's call into its layer (a span) and the Spark jobs submitted
inside it. A value is the median over the traced timed passes: per call
for ``spec``, ``plans``, ``writers.writer`` and ``writers.versioned.<op>``;
per pass for ``sources.parquet`` (the jobs of every consumer of the
parquet source) and ``operators.*`` (summed over the layer's calls: text
1, dedup 2, similarity 1); per commit for ``writers.logstore``. A layer a
workload does not call reads 0: that is the prediction "nothing moves
here".
"""

from __future__ import annotations

import statistics

from eventlog import Counters, Job, job_intervals
from spans import Tracer, covered

VERSIONED_OPS = ("overwrite", "append", "merge", "delete", "read")
OPERATORS = ("text", "dedup", "similarity")
OPERATOR_METRICS = (
    ("build_s", "s"),
    ("exec_s", "s"),
    ("analysis_s", "s"),
    ("optimization_s", "s"),
    ("planning_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_cpu_s", "s"),
    ("shuffle_bytes", "B"),
    ("pyworker_cpu_s", "s"),
)

#: (name, unit, better)
PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", "lower"),
    ("spec.parse_s", "s", "lower"),
    ("plans.plan_read_s", "s", "lower"),
    ("plans.jobs", "count", "lower"),
    ("sources.parquet.scan_tasks", "count", "lower"),
    ("sources.parquet.busy_tasks", "count", "higher"),
    ("sources.parquet.bytes_read", "B", "lower"),
    ("sources.parquet.records_read", "count", "lower"),
    ("writers.writer.write_s", "s", "lower"),
    ("writers.writer.jobs", "count", "lower"),
    ("writers.writer.tasks", "count", "lower"),
    ("writers.writer.executor_cpu_s", "s", "lower"),
    ("writers.writer.scan_passes", "count", "lower"),
    ("writers.writer.bytes_written", "B", "lower"),
    *[
        (f"writers.versioned.{op}.{m}", unit, "lower")
        for op in VERSIONED_OPS
        for m, unit in (
            ("wall_s", "s"),
            ("driver_s", "s"),
            ("jobs", "count"),
            ("tasks", "count"),
            ("executor_cpu_s", "s"),
            ("files_added", "count"),
            ("bytes_added", "B"),
            ("bytes_per_changed_byte", "ratio"),
        )
    ],
    ("writers.logstore.log_files_per_commit", "count", "lower"),
    ("writers.logstore.log_bytes_per_commit", "B", "lower"),
    *[
        (f"operators.{mod}.{m}", unit, "lower")
        for mod in OPERATORS
        for m, unit in OPERATOR_METRICS
    ],
    ("trace.overhead", "ratio", "lower"),
    ("trace.unattributed_jobs", "count", "lower"),
]


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class View:
    """Spans of the timed passes joined with the jobs attributed to them."""

    def __init__(
        self,
        tracer: Tracer,
        jobs: dict[int, Job],
        by_span: dict[int, list[int]],
        passes: list[str],
    ):
        self.tracer = tracer
        self.jobs = jobs
        self.by_span = by_span
        self.passes = passes  # ids of the traced, timed passes

    def calls(self, name: str, pass_id: str | None = None) -> list:
        want = self.passes if pass_id is None else [pass_id]
        return [s for s in self.tracer.spans if s.name == name and s.pass_id in want]

    def job_ids(self, span_id: int) -> list[int]:
        return [j for d in self.tracer.descendants(span_id) for j in self.by_span.get(d, ())]

    def counters(self, span_id: int) -> Counters:
        c = Counters()
        for j in self.job_ids(span_id):
            c.add(self.jobs[j].counters)
        return c

    def driver_s(self, span) -> float:
        """Wall time of ``span`` during which none of its jobs ran."""
        busy = covered(job_intervals(self.jobs, self.job_ids(span.id)), span.start, span.end)
        return span.duration - busy


def compute(view: View, ops_by_span: dict, outputs: list[dict]) -> dict:
    """Every per-layer metric except session.start_s and trace.*, which
    the caller knows. ``ops_by_span`` maps span id -> the workload's Op;
    ``outputs`` are the per-pass check results."""
    m: dict[str, float] = {}
    spec = view.calls("spec")
    m["spec.parse_s"] = _median(s.duration for s in spec)
    plans = view.calls("plans")
    m["plans.plan_read_s"] = _median(s.duration for s in plans)
    m["plans.jobs"] = _median(view.counters(s.id).jobs for s in plans)

    writes = view.calls("writers.writer")
    wc = [view.counters(s.id) for s in writes]
    m["writers.writer.write_s"] = _median(s.duration for s in writes)
    m["writers.writer.jobs"] = _median(c.jobs for c in wc)
    m["writers.writer.tasks"] = _median(c.tasks for c in wc)
    m["writers.writer.executor_cpu_s"] = _median(c.executor_cpu_s for c in wc)
    # jobs that read the rows, from the source files or from a cache: a
    # cache+count write reads them 3 times (scan+cache, count, write)
    m["writers.writer.scan_passes"] = _median(
        sum(view.jobs[j].counters.input_bytes > 0 for j in view.job_ids(s.id)) for s in writes
    )
    m["writers.writer.bytes_written"] = _median(c.output_bytes for c in wc)

    # the parquet source is read lazily inside its consumers' jobs: the
    # copy jobs' writes and the curation operators of a pass
    consumers = ["writers.writer"] + [
        f"operators.{mod}.{part}" for mod in OPERATORS for part in ("build", "exec")
    ]
    scans = []
    for p in view.passes:
        spans = [s for name in consumers for s in view.calls(name, p)]
        if spans:
            c = Counters()
            for s in spans:
                c.add(view.counters(s.id))
            scans.append(c)
    m["sources.parquet.scan_tasks"] = _median(c.scan_tasks for c in scans)
    m["sources.parquet.busy_tasks"] = _median(c.busy_tasks for c in scans)
    m["sources.parquet.bytes_read"] = _median(c.input_bytes for c in scans)
    m["sources.parquet.records_read"] = _median(c.input_records for c in scans)

    for op in VERSIONED_OPS:
        spans = view.calls(f"writers.versioned.{op}")
        cs = [view.counters(s.id) for s in spans]
        info = [ops_by_span[s.id].info for s in spans]
        pre = f"writers.versioned.{op}"
        m[f"{pre}.wall_s"] = _median(s.duration for s in spans)
        m[f"{pre}.driver_s"] = _median(view.driver_s(s) for s in spans)
        m[f"{pre}.jobs"] = _median(c.jobs for c in cs)
        m[f"{pre}.tasks"] = _median(c.tasks for c in cs)
        m[f"{pre}.executor_cpu_s"] = _median(c.executor_cpu_s for c in cs)
        m[f"{pre}.files_added"] = _median(i.get("files_added", 0) for i in info)
        m[f"{pre}.bytes_added"] = _median(i.get("bytes_added", 0) for i in info)
        m[f"{pre}.bytes_per_changed_byte"] = _median(
            i.get("bytes_added", 0) / i["changed_bytes"] if i.get("changed_bytes") else 0.0
            for i in info
        )

    for key in ("log_files_per_commit", "log_bytes_per_commit"):
        m[f"writers.logstore.{key}"] = _median(o[key] for o in outputs if key in o)

    for mod in OPERATORS:
        pre = f"operators.{mod}"
        per_pass: list[dict[str, float]] = []
        for p in view.passes:
            row = {k: 0.0 for k, _unit in OPERATOR_METRICS}
            seen = False
            for part in ("build", "exec"):
                for s in view.calls(f"{pre}.{part}", p):
                    seen = True
                    c = view.counters(s.id)
                    row[f"{part}_s"] += s.duration
                    row["jobs"] += c.jobs
                    row["tasks"] += c.tasks
                    row["executor_cpu_s"] += c.executor_cpu_s
                    row["shuffle_bytes"] += c.shuffle_write_bytes
                    if s.cpu:
                        row["pyworker_cpu_s"] += s.cpu[1].pyworker_s - s.cpu[0].pyworker_s
                    if part == "build":
                        info = ops_by_span[s.parent].info
                        for k, v in info.get("catalyst", {}).items():
                            row[k] += v
            if seen:
                per_pass.append(row)
        for k, _unit in OPERATOR_METRICS:
            m[f"{pre}.{k}"] = _median(r[k] for r in per_pass)
    return m
