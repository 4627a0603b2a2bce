"""Unit tests of the benchmark's own arithmetic: the tail-percentile rule,
the Spark event-log parser on a small fixed log, the status-tracker counts,
and span self time.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import math
import os
from types import SimpleNamespace

import pytest

import sparkstats
import spans

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


# -- tail percentile -----------------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    values = [float(v) for v in range(100, 0, -1)]  # order must not matter
    assert spans.tail_percentile(values) == (90, 90.0, 100)
    p, value, n = spans.tail_percentile([float(v) for v in range(1, 1001)])
    assert (p, value, n) == (99, 990.0, 1000)


def test_tail_at_the_smallest_sample_count_that_supports_one():
    values = [float(v) for v in range(1, 22)]
    p, value, n = spans.tail_percentile(values)
    assert (p, n) == (52, 21)
    assert sum(v > value for v in values) == 10


def test_no_tail_without_ten_samples_above_the_median():
    assert spans.tail_percentile([1.0] * 20) is None
    assert spans.tail_percentile([1.0, 2.0, 3.0]) is None
    assert spans.tail_percentile([]) is None


# -- event log -----------------------------------------------------------------


def test_event_log_parser_on_fixed_log():
    groups = sparkstats.parse_events(sparkstats.read_event_log(os.path.dirname(FIXTURE)))
    op = groups["op-0"]
    # stage 1 was listed by job 0 but skipped, and the failed task has no
    # metrics: neither is counted
    assert op.executor_cpu_s == pytest.approx(0.4)
    assert op.gc_s == pytest.approx(0.01)
    assert op.shuffle_write_bytes == 1000
    assert op.spill_bytes == 1024
    assert op.stage_intervals == [(1000.0, 1000.5)]

    stream = groups["b3dd83d4-run"]
    assert stream.executor_cpu_s == pytest.approx(0.4)
    assert stream.gc_s == pytest.approx(0.025)
    assert stream.stage_intervals == [(1000.4, 1000.9)]
    # a job started with no job group lands under ""
    assert groups[""].stage_intervals == [(1002.0, 1002.1)]


class _Tracker:
    """The part of pyspark's StatusTracker that status_counts reads."""

    def __init__(self, groups, jobs, stages):
        self.groups, self.jobs, self.stages = groups, jobs, stages

    def getJobIdsForGroup(self, group):
        return self.groups.get(group, [])

    def getJobInfo(self, job_id):
        ids = self.jobs.get(job_id)
        return None if ids is None else SimpleNamespace(stageIds=ids)

    def getStageInfo(self, stage_id):
        done = self.stages.get(stage_id)
        return None if done is None else SimpleNamespace(numCompletedTasks=done)


def _context(tracker):
    return SimpleNamespace(statusTracker=lambda: tracker)


def test_status_counts_count_each_stage_that_ran_once():
    # job 1 lists stage 10 again (reused) and skips stage 12
    tracker = _Tracker({"op-0": [0, 1]}, {0: [10, 11], 1: [10, 12]},
                       {10: 4, 11: 2, 12: 0})
    assert sparkstats.status_counts(_context(tracker), "op-0") == {
        "jobs": 2, "stages": 2, "tasks": 6}
    assert sparkstats.status_counts(_context(tracker), "op-9") == {
        "jobs": 0, "stages": 0, "tasks": 0}


def test_status_counts_refuse_evicted_entries():
    evicted_job = _Tracker({"op-0": [0]}, {}, {})
    with pytest.raises(LookupError):
        sparkstats.status_counts(_context(evicted_job), "op-0")
    evicted_stage = _Tracker({"op-0": [0]}, {0: [10]}, {})
    with pytest.raises(LookupError):
        sparkstats.status_counts(_context(evicted_stage), "op-0")


def test_driver_gap_is_wall_minus_union_of_stage_intervals():
    groups = sparkstats.parse_events(sparkstats.read_event_log(os.path.dirname(FIXTURE)))
    intervals = groups["op-0"].stage_intervals + groups["b3dd83d4-run"].stage_intervals
    # stages cover [1000.0, 1000.9] with an overlap; the op ran [999.8, 1001.0]
    assert sparkstats.driver_gap_s((999.8, 1001.0), intervals) == pytest.approx(0.3)
    # intervals are clipped to the op window
    assert sparkstats.driver_gap_s((1000.2, 1000.6), intervals) == pytest.approx(0.0)


def test_event_log_reader_follows_rolling_files(tmp_path):
    with open(FIXTURE) as fh:
        lines = fh.readlines()
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("".join(lines[:8]))
    (app / "events_2_local-1").write_text("".join(lines[8:]))
    (app / "appstatus_local-1").write_text("")
    events = sparkstats.read_event_log(str(tmp_path))
    assert [e["Event"] for e in events] == [json.loads(line)["Event"] for line in lines]


# -- span self time ------------------------------------------------------------


def _span(name, start, end, parent=None, op=0):
    return spans.Span(name, start, end, parent, op)


def test_self_time_subtracts_union_of_children():
    tree = [
        _span("op", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 2.0, 4.0, parent=0),  # overlaps a: counted once
        _span("c", 5.0, 6.0, parent=0),
        _span("d", 5.2, 5.5, parent=3),  # grandchild: only c loses it
    ]
    assert spans.self_times(tree) == pytest.approx([6.0, 2.0, 2.0, 0.7, 0.3])
    # self times of a tree sum to the root's duration when children nest
    nested = [_span("op", 0.0, 4.0), _span("x", 1.0, 3.0, parent=0),
              _span("y", 1.5, 2.0, parent=1)]
    assert sum(spans.self_times(nested)) == pytest.approx(4.0)


def test_self_time_by_name_filters_ops():
    tree = [
        _span("op", 0.0, 2.0, op=0),
        _span("catalog", 0.5, 1.0, parent=0, op=0),
        _span("op", 3.0, 4.0, op=1),
        _span("catalog", 3.0, 3.25, parent=2, op=1),
    ]
    assert spans.self_time_by_name(tree, {0}) == pytest.approx({"op": 1.5, "catalog": 0.5})
    assert spans.self_time_by_name(tree)["catalog"] == pytest.approx(0.75)
    assert spans.calls_by_name(tree, {1}) == {"op": 1, "catalog": 1}


def test_tracer_wraps_and_restores():
    class Engine:
        def work(self, x):
            return x * 2

    tracer = spans.Tracer()
    original = Engine.work
    tracer.wrap(Engine, "work", "engine.work")
    assert Engine().work(2) == 4 and tracer.spans == []  # disabled: no span
    tracer.enabled, tracer.op = True, 7
    with tracer.span("op"):
        Engine().work(3)
    assert [(s.name, s.parent, s.op) for s in tracer.spans] == [
        ("op", None, 7), ("engine.work", 0, 7)]
    assert all(not math.isnan(s.end) for s in tracer.spans)
    tracer.unwrap_all()
    assert Engine.work is original


def test_union_length():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
