import os

import pytest

import eventlog
from layers import View
from spans import Span, Tracer

LOG = os.path.join(os.path.dirname(__file__), "data", "events.jsonl")


@pytest.fixture
def jobs():
    with open(LOG) as f:
        return eventlog.parse(f)


def test_parse_counts_tasks_under_the_job_that_ran_them(jobs):
    assert sorted(jobs) == [0, 1, 2, 3]
    j0, j1 = jobs[0].counters, jobs[1].counters
    assert (jobs[0].submit_s, jobs[0].end_s) == (1000.1, 1000.6)
    assert (j0.jobs, j0.stages, j0.tasks, j0.failed_tasks) == (1, 1, 2, 0)
    assert (j0.scan_tasks, j0.busy_tasks) == (2, 1)
    assert j0.executor_run_s == pytest.approx(0.3)
    assert j0.executor_cpu_s == pytest.approx(0.2)
    assert j0.gc_s == pytest.approx(0.01)
    assert (j0.input_records, j0.input_bytes, j0.shuffle_write_bytes) == (100, 5000, 512)
    # job 1 lists stage 0 too, but stage 0 ran under job 0
    assert (j1.stages, j1.tasks, j1.failed_tasks, j1.scan_tasks) == (1, 1, 1, 0)
    assert (j1.output_records, j1.output_bytes, j1.shuffle_read_bytes) == (40, 2048, 512)
    assert jobs[2].counters.tasks == 0


def _spans():
    t = Tracer()
    t.spans = [
        Span(0, "pass", 1000.0, 1003.0),
        Span(1, "writers.writer", 1000.05, 1000.65, parent=0),
        # opens half a millisecond after job 1's truncated submission time
        Span(2, "writers.versioned.merge", 1000.7005, 1001.0, parent=0),
    ]
    return t


def test_attribution_by_submission_time(jobs):
    t = _spans()
    by_span, lost = eventlog.attribute(jobs, t.spans)
    assert by_span == {1: [0], 2: [1], 0: [2]}
    assert lost == [3]


def test_layer_view_sums_descendants_and_driver_time(jobs):
    t = _spans()
    by_span, _lost = eventlog.attribute(jobs, t.spans)
    v = View(t, jobs, by_span, passes=[])
    assert sorted(v.job_ids(0)) == [0, 1, 2]
    assert v.counters(0).tasks == 3
    # jobs run 0.5 + 0.3 + 0.1 s of the pass's 3 s
    assert v.driver_s(t.spans[0]) == pytest.approx(2.1)
    assert v.driver_s(t.spans[1]) == pytest.approx(0.1)
