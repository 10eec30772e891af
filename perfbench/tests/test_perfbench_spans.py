"""Self time, job attribution and the Spark-layer metrics parsed from an
event log."""

import json

import pytest

from perfbench.spans import (
    NullTracer,
    Span,
    Tracer,
    covered_ms,
    parse_event_log,
    self_times,
    spark_layer,
)


def test_covered_ms_merges_overlaps_and_clips():
    assert covered_ms(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered_ms(0, 10, [(-5, 2), (9, 20)]) == 3
    assert covered_ms(0, 10, [(11, 12)]) == 0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "request", 0, 100, None, 0),
        Span(1, "plan", 10, 40, 0, 0),
        Span(2, "read", 15, 25, 1, 0),
        Span(3, "exec", 30, 90, 0, 0),  # overlaps plan by 10
    ]
    own = self_times(spans)
    assert own == {0: 100 - 80, 1: 30 - 10, 2: 10, 3: 60}


def test_tracer_nests_spans_and_tags_jobs_with_the_innermost_span():
    tags = []
    tr = Tracer(tags.append)
    with tr.span("request") as root:
        with tr.span("plan") as plan:
            pass
        with tr.span("exec"):
            pass
    assert [s.name for s in tr.spans] == ["request", "plan", "exec"]
    assert plan.parent == root.id and all(s.request == root.id for s in tr.spans)
    assert tags == ["perfbench-span:0", "perfbench-span:1", "perfbench-span:0",
                    "perfbench-span:2", "perfbench-span:0", None]
    assert all(s.end >= s.start for s in tr.spans)
    with NullTracer().span("x") as none:
        assert none is None


def test_tracer_closes_spans_when_the_call_raises():
    tags = []
    tr = Tracer(tags.append)
    with pytest.raises(RuntimeError):
        with tr.span("request"):
            with tr.span("exec"):
                raise RuntimeError("boom")
    assert tags[-1] is None and all(s.end > 0 for s in tr.spans)


def _task(stage, launch, finish, rows=0, cpu_ns=0, shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": finish - launch, "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Records Read": rows},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _log():
    ev = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1010,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "perfbench-span:2"}},
        _task(0, 1012, 1020, rows=100, cpu_ns=5_000_000, shuffle=1 << 20),
        _task(0, 1012, 1040, rows=300, cpu_ns=5_000_000, shuffle=1 << 20),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1011, "Completion Time": 1041}},
        _task(1, 1042, 1050),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1060},
        # a job nobody traced (an untraced request) is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {}},
        _task(2, 2001, 2002, rows=999),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2003},
    ]
    return parse_event_log(json.dumps(e) for e in ev)


def test_event_log_jobs_map_to_spans_and_requests():
    log = _log()
    assert log.jobs[0].span == 2 and log.jobs[1].span is None
    assert [len(log.stages[s].tasks) for s in (0, 1, 2)] == [2, 1, 1]
    spans = [Span(0, "request", 1000, 1100, None, 0),
             Span(1, "plan", 1000, 1005, 0, 0),
             Span(2, "exec", 1005, 1100, 0, 0)]
    m = spark_layer(log, spans, [0], cores=4)
    assert m["spark.jobs_per_request"] == 1
    assert m["spark.tasks_per_request"] == 3
    assert m["spark.input_rows"] == 400
    # request 1000..1100, job 1010..1060 → 50 ms outside jobs
    assert m["spark.outside_jobs_ms"] == 50
    # stage 0 tasks 8 and 28 ms: skew 28 / median 18
    assert m["spark.stage_skew_max"] == pytest.approx(28 / 18)
    # busy 8 + 28 + 8 over (28 + 8) ms of stage wall x 4 cores
    assert m["spark.core_utilization"] == pytest.approx(44 / (36 * 4))
    assert m["spark.task_cpu_s"] == pytest.approx(0.01)
    assert m["spark.shuffle_write_mb"] == 2 and m["spark.shuffle_read_mb"] == 2
    assert m["spark.gc_s"] == pytest.approx(0.003)
