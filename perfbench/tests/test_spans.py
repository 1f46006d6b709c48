"""Span/job attribution arithmetic: self time, driver gap, ownership."""

import json

import pytest

from perfbench.spans import Job, Span, Tracer, parse_event_log, span_metrics, union_length


def _span(name, sid, parent, start, end, run="r"):
    return Span(name, sid, parent, run, start, end)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_and_driver_gap():
    root = _span("iteration", 0, None, 0.0, 10.0)
    a = _span("a", 1, 0, 1.0, 4.0)
    b = _span("b", 2, 0, 5.0, 9.0)
    jobs = [
        # tagged with a's group although it starts before a: the group wins
        Job(0, 0.5, 2.0, a.group, tasks=3, shuffle_write_bytes=10),
        Job(1, 3.0, 3.5, None, tasks=1),  # untagged, inside a by time
        Job(2, 6.0, 8.0, None, tasks=4, executor_cpu_s=1.5),  # inside b
        Job(3, 9.5, 9.8, None, tasks=1),  # root only
        Job(4, 20.0, 21.0, None, tasks=9),  # outside every span: dropped
    ]
    m = span_metrics([root, a, b], jobs)
    assert m[1]["jobs"] == 2 and m[1]["tasks"] == 4
    assert m[1]["shuffle_write_bytes"] == 10
    # a: wall 3, job intervals clipped to [1, 4] cover [1, 2] + [3, 3.5]
    assert m[1]["driver_gap_s"] == pytest.approx(3 - 1.5)
    assert m[1]["self_s"] == pytest.approx(3)
    assert m[2]["jobs"] == 1 and m[2]["executor_cpu_s"] == pytest.approx(1.5)
    assert m[2]["driver_gap_s"] == pytest.approx(4 - 2)
    # root is inclusive of its children's jobs; self time excludes them
    assert m[0]["jobs"] == 4 and m[0]["tasks"] == 9
    assert m[0]["self_s"] == pytest.approx(10 - 3 - 4)
    assert m[0]["driver_gap_s"] == pytest.approx(10 - (1.5 + 0.5 + 2 + 0.3))


def test_untagged_job_goes_to_innermost_span():
    outer = _span("outer", 0, None, 0.0, 10.0)
    inner = _span("inner", 1, 0, 2.0, 6.0)
    m = span_metrics([outer, inner], [Job(0, 3.0, 4.0, "someone-else")])
    assert m[1]["jobs"] == 1 and m[0]["jobs"] == 1


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x") as s:
        assert s is None
    assert t.spans == []


def test_tracer_nesting_and_dump(tmp_path):
    t = Tracer(True)
    with t.span("root"):
        with t.span("child"):
            pass
    root, child = t.spans
    assert child.parent == root.span_id and root.parent is None
    assert root.start <= child.start <= child.end <= root.end
    path = tmp_path / "spans.jsonl"
    t.dump(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["root", "child"]
    assert {r["run_id"] for r in rows} == {t.run_id}


def test_parse_event_log_counts_tasks_per_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Memory Bytes Spilled": 5,
            "Disk Bytes Spilled": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Shuffle Read Metrics": {"Remote Bytes Read": 7, "Local Bytes Read": 93}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
        # a job still running when the log ended has no end: dropped
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [2]},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (job,) = parse_event_log(str(path))
    assert (job.start, job.end, job.group) == (1.0, 3.5, "g")
    assert job.tasks == 2 and job.executor_cpu_s == pytest.approx(2.0)
    assert job.shuffle_write_bytes == 100 and job.shuffle_read_bytes == 100
    assert job.spill_bytes == 6
