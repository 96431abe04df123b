"""Event-log parsing and span attribution on a small checked-in log.

The fixture holds one SQL execution plan (an aggregate over a cached-table
scan) and three Spark jobs: job 0 (group ``pb0``, stages 0 and 1), job 1
(group ``pb1``, lists stage 1 again as a reused shuffle and runs stage 2)
and job 2 (no group, so no span owns it).

Run with: python3 -m pytest perfbench/tests/test_trace.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import trace  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def spans():
    return [
        trace.Span(0, "chunked.map_overlap_tiles", None, 0, 999.9, 1003.5),
        trace.Span(1, "caching.persist_tracked", 0, 0, 1002.4, 1003.2),
    ]


def test_parse_jobs_and_stages():
    jobs, stages = trace.parse_event_log(FIXTURE)
    assert sorted(jobs) == [0, 1, 2]
    assert jobs[0].group == "pb0" and jobs[2].group is None
    assert (jobs[0].start, jobs[0].end) == (1000.0, 1002.0)
    assert jobs[1].stages == [1, 2]
    assert stages[0]["tasks"] == 2
    assert stages[0]["python_mb"] == pytest.approx(1.0)
    assert stages[0]["python_run_s"] == pytest.approx(3.0)
    assert stages[1]["shuffle_read_mb"] == pytest.approx(2.0)
    assert stages[1]["fetch_wait_s"] == pytest.approx(0.25)


def test_attribute_counts_each_stage_once():
    jobs, stages = trace.parse_event_log(FIXTURE)
    s = spans()
    trace.attribute(s, jobs, stages)
    a, b = s[0].counters, s[1].counters
    assert a["jobs"] == 1 and a["stages"] == 2 and a["tasks"] == 3
    assert a["executor_cpu_s"] == pytest.approx(1.0)
    assert a["gc_s"] == pytest.approx(0.2)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert a["input_mb"] == pytest.approx(4.0)
    assert a["scan_rows"] == 1000  # the table scan's rows, not the aggregate's
    assert a["spill_mb"] == pytest.approx(3.0)
    # stage 1 belongs to job 0; job 1 only adds stage 2
    assert b["jobs"] == 1 and b["stages"] == 1 and b["tasks"] == 3
    assert b["executor_cpu_s"] == pytest.approx(0.3)
    # the ungrouped job 2 is nobody's
    assert a["executor_cpu_s"] + b["executor_cpu_s"] == pytest.approx(1.3)


def test_self_and_driver_time():
    jobs, stages = trace.parse_event_log(FIXTURE)
    s = spans()
    trace.attribute(s, jobs, stages)
    a, b = s[0].counters, s[1].counters
    assert a["self_s"] == pytest.approx(3.6 - 0.8)
    # wall 3.6 minus job 0 (2.0 s) and the child span (0.8 s)
    assert a["driver_s"] == pytest.approx(0.8)
    assert b["self_s"] == pytest.approx(0.8)
    assert b["driver_s"] == pytest.approx(0.8 - 0.5)


def test_per_job_medians_sum_within_a_job():
    s = [
        trace.Span(0, "x.f", None, -1, 0, 1, {"self_s": 1.0}),
        trace.Span(1, "x.g", None, -2, 0, 9, {"self_s": 9.0}),
        trace.Span(2, "x.g", None, 0, 0, 1, {"self_s": 1.0}),
        trace.Span(3, "x.g", None, 0, 0, 2, {"self_s": 2.0}),
        trace.Span(4, "x.g", None, 1, 0, 5, {"self_s": 5.0}),
        trace.Span(5, "x.g", None, 2, 0, 4, {"self_s": 4.0}),
    ]
    m = trace.per_job_medians(s)
    assert m["x.f.self_s"] == 1.0
    assert m["x.g.self_s"] == 4.0  # median of 3, 5, 4; the warm-up is left out


def test_tracer_off_records_nothing():
    t = trace.Tracer(enabled=False)
    with t.span("x.f") as s:
        assert s is None
    assert t.spans == []


def test_tracer_nesting():
    t = trace.Tracer(enabled=True)
    t.job = 3
    with t.span("a.f"):
        with t.span("b.g"):
            pass
    assert [(s.name, s.parent, s.job) for s in t.spans] == [
        ("a.f", None, 3), ("b.g", 0, 3)]
    assert all(s.end >= s.start for s in t.spans)
