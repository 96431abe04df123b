"""Spans around calls into the program's layers, and per-span counters read
back from the Spark event log.

A span is one call into a layer plus the materialisation of its output. It
is named ``<module>.<function>`` after the public function it wraps. While a
span is open, its id is the Spark job group, so every Spark job it starts
carries that id in the event log. Spans are kept in memory and written out
once, when the run ends.

Only the traced run (``--trace 1``) records spans; with tracing off,
``Tracer.span`` does nothing.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1e6

# Counters summed over the tasks of a span's jobs: name -> (task-metric
# paths added together, scale to the reported unit).
_TASK_METRICS = {
    "executor_cpu_s": ([("Executor CPU Time",)], 1e-9),
    "gc_s": ([("JVM GC Time",)], 1e-3),
    "shuffle_write_mb": ([("Shuffle Write Metrics", "Shuffle Bytes Written")], 1 / MB),
    "shuffle_read_mb": ([("Shuffle Read Metrics", "Remote Bytes Read"),
                         ("Shuffle Read Metrics", "Local Bytes Read")], 1 / MB),
    "fetch_wait_s": ([("Shuffle Read Metrics", "Fetch Wait Time")], 1e-3),
    "spill_mb": ([("Disk Bytes Spilled",)], 1 / MB),
    "input_mb": ([("Input Metrics", "Bytes Read")], 1 / MB),
}
# SQL metrics that only appear as task accumulables.
_ACCUMULABLES = {
    "python_mb": (("data sent to Python workers",
                   "data returned from Python workers"), 1 / MB),
    "python_run_s": (("time to run Python workers",), 1e-3),
}
# summed over the finished tasks of a span's stages
_SUMMED = ("tasks", *_TASK_METRICS, *_ACCUMULABLES, "scan_rows")
COUNTERS = ("jobs", "stages", *_SUMMED)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    job: int          # benchmark job index; -1 for set-up, -2 for warm-up
    start: float      # epoch seconds
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans and tags Spark jobs with the innermost open span."""

    def __init__(self, enabled: bool = False):
        self.sc = None  # the SparkContext, once there is one
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.job = -1

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb{span.id}", span.name)

    def note(self, name: str, counter: str, value: float) -> None:
        """Set a counter measured outside Spark on the latest span ``name``."""
        for s in reversed(self.spans):
            if s.name == name:
                s.counters[counter] = value
                return

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.job, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)


# --- event log --------------------------------------------------------------


@dataclass
class JobRecord:
    group: str | None
    start: float   # epoch seconds
    end: float
    stages: list[int]


def _get(d, path: tuple[str, ...]) -> float:
    for k in path:
        if not isinstance(d, dict) or k not in d:
            return 0.0
        d = d[k]
    return float(d)


def _scan_row_metrics(plan: dict, out: set[int]) -> None:
    """Accumulator ids of "number of output rows" on the plan's scan nodes
    (cached-table and file scans): the rows a query reads."""
    name = plan.get("nodeName", "")
    if name == "InMemoryTableScan" or name.startswith("Scan "):
        out.update(m["accumulatorId"] for m in plan.get("metrics", [])
                   if m.get("name") == "number of output rows")
    for child in plan.get("children", []):
        _scan_row_metrics(child, out)


def parse_event_log(path: str) -> tuple[dict[int, JobRecord], dict[int, dict[str, float]]]:
    """Read an uncompressed JSON-lines event log. Returns jobs by id and,
    per stage id, the counters summed over its finished tasks (plus
    ``tasks``)."""
    jobs: dict[int, JobRecord] = {}
    stages: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    scan_ids: set[int] = set()
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if "sparkPlanInfo" in ev:  # SQL execution start / AQE re-plan
                _scan_row_metrics(ev["sparkPlanInfo"], scan_ids)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = JobRecord(
                    group=props.get("spark.jobGroup.id"),
                    start=ev["Submission Time"] / 1e3,
                    end=ev["Submission Time"] / 1e3,
                    stages=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                stages[ev["Stage Info"]["Stage ID"]]["stage_attempts"] += 1
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                st["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                for name, (paths, scale) in _TASK_METRICS.items():
                    st[name] += sum(_get(tm, p) for p in paths) * scale
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    update = float(acc.get("Update") or 0)
                    if acc.get("ID") in scan_ids:
                        st["scan_rows"] += update
                    for name, (names, scale) in _ACCUMULABLES.items():
                        if acc.get("Name") in names:
                            st[name] += update * scale
    return jobs, {k: dict(v) for k, v in stages.items()}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
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


def attribute(spans: list[Span], jobs: dict[int, JobRecord],
              stages: dict[int, dict[str, float]]) -> None:
    """Fill each span's counters from the jobs tagged with its id, plus
    ``self_s`` (wall time not covered by child spans) and ``driver_s``
    (wall time covered by neither child spans nor its own jobs).

    A stage shared by several jobs (a reused shuffle) is counted once, for
    the first job that lists it; only stages that ran appear in ``stages``.
    """
    seen: set[int] = set()
    by_group: dict[str, list[JobRecord]] = defaultdict(list)
    for jid in sorted(jobs):
        by_group[jobs[jid].group or ""].append(jobs[jid])
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    for s in spans:
        own = by_group.get(f"pb{s.id}", [])
        c = {k: 0.0 for k in COUNTERS}
        c["jobs"] = float(len(own))
        for j in own:
            for sid in j.stages:
                if sid in seen or sid not in stages:
                    continue
                seen.add(sid)
                st = stages[sid]
                c["stages"] += st.get("stage_attempts", 0.0)
                for k in _SUMMED:
                    c[k] += st.get(k, 0.0)
        kids = [(k.start, k.end) for k in children[s.id]]
        wall = s.end - s.start
        c["self_s"] = wall - _union_length(kids)
        busy = kids + [(max(j.start, s.start), min(j.end, s.end))
                       for j in own if j.end > s.start and j.start < s.end]
        c["driver_s"] = wall - _union_length(busy)
        s.counters.update(c)


def per_job_medians(spans: list[Span]) -> dict[str, float]:
    """``<span name>.<counter>`` -> median over benchmark jobs of the
    counter summed over that job's spans of that name. Set-up spans
    (job -1) are reported as they are; warm-up spans are left out."""
    per: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s.job == -2:
            continue
        for k, v in s.counters.items():
            per[f"{s.name}.{k}"][s.job] += v
    return {k: statistics.median(v.values()) for k, v in per.items()}


def spans_json(spans: list[Span]) -> list[dict]:
    return [
        {"id": s.id, "name": s.name, "parent": s.parent, "job": s.job,
         "start": s.start, "end": s.end, **s.counters}
        for s in spans
    ]
