"""The benchmark's own helpers: percentile rule, span self time, the
event-log parser."""

import json
import threading
import time

import pytest

from harness import RssSampler, percentile, steady
from tracing import Tracer, parse_event_log, span_self_times, task_skew


def test_percentile_interpolates_between_ranks():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 0) == 1.0
    assert percentile(list(range(1, 102)), 90) == pytest.approx(91.0)
    assert percentile([7.0], 90) == 7.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_steady():
    assert not steady([1.0], 0.1)
    assert steady([1.0, 1.05], 0.1)
    assert not steady([1.0, 1.5], 0.1)


def test_rss_peak_before_reset_never_survives():
    """A sample that began before reset() is dropped, even when it ends
    after it."""
    started, release = threading.Event(), threading.Event()

    def sample(_root):
        if not started.is_set():
            started.set()
            release.wait(5)
            return 1000  # the set-up peak, read while reset() runs
        return 10

    with RssSampler(0, interval=0.001, sample=sample) as rss:
        assert started.wait(5)
        rss.reset()
        release.set()
        deadline = time.monotonic() + 5
        while rss.peak == 0 and time.monotonic() < deadline:
            time.sleep(0.001)
        assert rss.peak == 10


def _span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start": start,
            "end": end}


def test_self_time_subtracts_children_once():
    spans = [_span(0, "build", None, 0.0, 10.0),
             _span(1, "linking", 0, 1.0, 4.0),
             _span(2, "graph", 0, 3.0, 6.0),     # overlaps linking
             _span(3, "linking.link", 1, 2.0, 3.0)]
    assert span_self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])


def test_self_time_clips_child_to_parent():
    spans = [_span(0, "a", None, 0.0, 2.0), _span(1, "b", 0, 1.0, 5.0)]
    assert span_self_times(spans)[0] == pytest.approx(1.0)


def test_tracer_nesting_without_spark():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["run_id"] == inner["run_id"]
    st = tr.self_times()
    assert st["outer"] + st["inner"] == pytest.approx(tr.total("outer"))


def _task(stage, ms, run=100, cpu=50_000_000, gc=7, shuffle=10, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
            "Task Metrics": {
                "Executor Run Time": run, "Executor CPU Time": cpu,
                "JVM GC Time": gc,
                "Input Metrics": {"Bytes Read": 3},
                "Output Metrics": {"Bytes Written": 4},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                         "Local Bytes Read": 2},
                "Memory Bytes Spilled": spill, "Disk Bytes Spilled": spill}}


def test_event_log_groups_by_job_group():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "linking.link"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "run-123"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
        _task(0, 10), _task(0, 10), _task(0, 40, spill=5), _task(1, 1),
        _task(2, 5), _task(3, 5),
        {"Event": "SparkListenerApplicationEnd"},
    ]
    lines = [json.dumps(e) + "\n" for e in events] + ["\n"]
    groups = parse_event_log(lines, {"run-123": "streaming"})
    assert set(groups) == {"linking.link", "streaming", ""}
    link = groups["linking.link"]
    assert link["tasks"] == 4
    assert link["run_s"] == pytest.approx(0.4)
    assert link["cpu_s"] == pytest.approx(0.2)
    assert link["gc_s"] == pytest.approx(0.028)
    assert link["shuffle_write_bytes"] == 40
    assert link["shuffle_read_bytes"] == 12
    assert link["spill_bytes"] == 10
    assert link["input_bytes"] == 12 and link["output_bytes"] == 16
    # heaviest stage 0: max 40 / median 10
    assert task_skew(link) == pytest.approx(4.0)
    assert groups["streaming"]["tasks"] == 1


def test_task_skew_without_multi_task_stage():
    groups = parse_event_log([json.dumps(_task(9, 5))])
    assert task_skew(groups[""]) == 1.0
