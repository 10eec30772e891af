"""Outside-in tracing: spans recorded around calls into the engine's
public functions, and Spark's event log attributed to those spans.

A span is ``(id, name, start, end, parent, request)``. While a span is
open its id is the Spark job description (``sc.setJobDescription``), so
every job the call launches carries it into the event log; the parser
maps jobs → stages → tasks back to spans and to the request (root span)
that caused them. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_DESC = "perfbench-span:"


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch ms, the clock the event log uses
    end: float
    parent: int | None
    request: int


class Tracer:
    """Records spans. ``set_description`` is the hook that tags Spark
    jobs (``SparkContext.setJobDescription`` in a run; a no-op or a
    recorder in tests)."""

    def __init__(self, set_description=None) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._set = set_description or (lambda _d: None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(sid, name, time.time() * 1000, 0.0,
                  parent.id if parent else None,
                  parent.request if parent else sid)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set(f"{_DESC}{sid}")
        try:
            yield sp
        finally:
            sp.end = time.time() * 1000
            self._stack.pop()
            self._set(f"{_DESC}{parent.id}" if parent else None)


class NullTracer:
    """Tracing off: the same interface, nothing recorded."""

    @contextmanager
    def span(self, name: str):
        yield None


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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


def covered_ms(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = [(max(s, start), min(e, end)) for s, e in intervals]
    return _union_ms([(s, e) for s, e in clipped if e > s])


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            kids[sp.parent].append((sp.start, sp.end))
    return {
        sp.id: (sp.end - sp.start) - covered_ms(sp.start, sp.end, kids[sp.id])
        for sp in spans
    }


# --------------------------------------------------------------------------
# event log


@dataclass
class Task:
    launch: float
    finish: float
    run_ms: float
    cpu_ns: float
    gc_ms: float
    records_read: int
    shuffle_read: int
    shuffle_write: int
    spill: int


@dataclass
class Stage:
    id: int
    submit: float | None = None
    complete: float | None = None
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    id: int
    span: int | None
    submit: float
    complete: float | None
    stages: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]


def _task(ev: dict) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    return Task(
        launch=info["Launch Time"],
        finish=info["Finish Time"],
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        records_read=inp.get("Records Read", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        spill=m.get("Disk Bytes Spilled", 0),
    )


def parse_event_log(lines) -> EventLog:
    """Jobs (with the span id from their description), stages and
    per-task metrics from an uncompressed, unrolled Spark event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            span = int(desc[len(_DESC):]) if desc.startswith(_DESC) else None
            jobs[ev["Job ID"]] = Job(ev["Job ID"], span, ev["Submission Time"],
                                     None, list(ev["Stage IDs"]))
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].complete = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit = info.get("Submission Time")
            st.complete = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Info"):
            stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"])).tasks.append(
                _task(ev)
            )
    return EventLog(jobs, stages)


def read_event_log(directory: str) -> EventLog:
    """Parse the single application log Spark wrote to ``directory``."""
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {names}")
    with open(os.path.join(directory, names[0])) as f:
        return parse_event_log(f)


def spark_layer(log: EventLog, spans: list[Span], requests: list[int], cores: int) -> dict:
    """Spark-runtime metrics over the jobs attributed to ``requests``
    (root span ids): per-request job/task counts, input rows, time
    outside jobs, CPU, GC, shuffle and spill, plus utilization and the
    worst stage skew over their stages."""
    by_id = {sp.id: sp for sp in spans}
    wanted = set(requests)
    jobs_of: dict[int, list[Job]] = defaultdict(list)
    for job in log.jobs.values():
        if job.span is not None and job.span in by_id:
            req = by_id[job.span].request
            if req in wanted:
                jobs_of[req].append(job)
    n = max(len(requests), 1)
    outside, stage_ids = [], set()
    for req in requests:
        sp = by_id[req]
        ivs = [(j.submit, j.complete or sp.end) for j in jobs_of[req]]
        outside.append((sp.end - sp.start) - covered_ms(sp.start, sp.end, ivs))
        for j in jobs_of[req]:
            stage_ids.update(j.stages)
    tasks = [t for s in stage_ids if s in log.stages for t in log.stages[s].tasks]
    busy = wall = 0.0
    skew = 1.0
    for s in stage_ids:
        st = log.stages.get(s)
        if st is None or not st.tasks:
            continue  # skipped stage (its output was reused)
        start = min(t.launch for t in st.tasks)
        end = max(t.finish for t in st.tasks)
        busy += sum(t.finish - t.launch for t in st.tasks)
        wall += (end - start) * cores
        durs = sorted(t.finish - t.launch for t in st.tasks)
        if len(durs) >= 2:
            med = durs[len(durs) // 2] if len(durs) % 2 else (
                durs[len(durs) // 2 - 1] + durs[len(durs) // 2]) / 2
            skew = max(skew, durs[-1] / max(med, 1.0))
    mb = 1 << 20
    return {
        "spark.outside_jobs_ms": sum(outside) / n,
        "spark.jobs_per_request": sum(len(jobs_of[r]) for r in requests) / n,
        "spark.tasks_per_request": len(tasks) / n,
        "spark.input_rows": sum(t.records_read for t in tasks) / n,
        "spark.core_utilization": busy / wall if wall else 0.0,
        "spark.stage_skew_max": skew,
        "spark.task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9 / n,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3 / n,
        "spark.shuffle_write_mb": sum(t.shuffle_write for t in tasks) / mb / n,
        "spark.shuffle_read_mb": sum(t.shuffle_read for t in tasks) / mb / n,
        "spark.spill_mb": sum(t.spill for t in tasks) / mb / n,
    }
