"""Tests of the benchmark's own helpers. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import layers  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata",
                   "eventlog_small.json")


# -- the ">= 10 samples beyond" tail rule --------------------------------


def test_tail_needs_eleven_samples():
    assert harness.tail([1.0] * 10) is None
    assert harness.tail([]) is None


def test_tail_eleven_samples_is_the_minimum_at_p9():
    vals = [float(v) for v in range(11, 0, -1)]
    value, pct, n = harness.tail(vals)
    assert (value, n) == (1.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_hundred_samples_is_p90_with_ten_beyond():
    vals = [float(v) for v in range(1, 101)]
    value, pct, n = harness.tail(vals)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in vals) == 10


# -- span self time ------------------------------------------------------


def _span(sid, parent, start, end):
    return harness.Span(sid, f"s{sid}", parent, start, end)


def test_self_time_subtracts_union_of_children():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 3.0),     # overlaps the next child
             _span(2, 0, 2.0, 5.0),
             _span(3, 0, 8.0, 12.0),    # runs past the parent: clipped
             _span(4, 1, 1.5, 2.5)]     # grandchild: not subtracted again
    # children cover [1, 5] and [8, 10]: 6 of the parent's 10 seconds
    assert harness.self_time(spans[0], spans) == pytest.approx(4.0)
    assert harness.self_time(spans[1], spans) == pytest.approx(1.0)
    assert harness.self_time(spans[4], spans) == pytest.approx(1.0)


def test_self_time_without_children_is_duration():
    s = _span(0, None, 2.0, 2.5)
    assert harness.self_time(s, [s]) == pytest.approx(0.5)


class _FakeSc:
    def __init__(self):
        self.group = None

    def setJobGroup(self, group, desc):
        self.group = group

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


def test_tracer_nests_and_restores_job_groups():
    sc = _FakeSc()
    t = harness.Tracer(sc, prefix="g")
    with t.span("outer") as outer:
        assert sc.group == "g0"
        with t.span("inner") as inner:
            assert sc.group == "g1"
        assert sc.group == "g0"
    assert sc.group is None
    assert inner.parent == outer.sid and outer.parent is None
    assert t.span_at((inner.start + inner.end) / 2) is inner
    assert t.span_at(outer.end + 1.0) is None


# -- event-log parsing ---------------------------------------------------
# The recorded log holds three jobs: job 0 in group "pb0" (a shuffle:
# 2 map tasks + 2 reduce tasks), job 1 in group "pb1" (one 2-task stage)
# and job 2, submitted with no group (one 3-task stage).


def test_parse_event_log_groups_and_tasks():
    jobs = harness.parse_event_log([LOG])
    assert [(j["job"], j["group"]) for j in jobs] == \
        [(0, "pb0"), (1, "pb1"), (2, None)]
    assert [j["tasks"] for j in jobs] == [4, 2, 3]
    assert jobs[0]["shuffle_write_bytes"] > 0
    assert jobs[1]["shuffle_write_bytes"] == jobs[2]["shuffle_write_bytes"] == 0
    for j in jobs:
        assert j["executor_run_s"] >= 0 and j["result_bytes"] > 0
        assert j["submitted"] > 1e9  # epoch seconds
    tot = harness.total(jobs)
    assert tot["jobs"] == 3 and tot["tasks"] == 9


def test_unattributed_job_is_tied_to_the_open_span():
    jobs = harness.parse_event_log([LOG])
    t = harness.Tracer(prefix="pb")
    t0 = jobs[0]["submitted"] - t.epoch0
    # spans 0 and 1 own the grouped jobs; a round span is open when the
    # ungrouped job 2 is submitted
    t.spans = [harness.Span(0, "round", None, t0 - 1, t0 + 0.001),
               harness.Span(1, "checkpoint", None, t0 + 0.001,
                            jobs[1]["submitted"] - t.epoch0 + 0.001),
               harness.Span(2, "round", None,
                            jobs[2]["submitted"] - t.epoch0 - 0.001,
                            jobs[2]["submitted"] - t.epoch0 + 5)]
    # the innermost open span is a stage of that round
    t.add("stage.admission", t.spans[2], t.spans[2].start, t.spans[2].end)
    out = layers._spark_layers(t, jobs, n_rounds=2)
    assert out["spark.jobs"] == 3
    assert out["crawl.unattributed_jobs"] == 1
    assert out["crawl.jobs_per_round"] == 1.0  # jobs 0 and 2 over 2 rounds
    assert out["spark.tasks"] == 9


# -- untraced history for trace.overhead_frac ----------------------------


def test_untraced_history_is_keyed(tmp_path):
    path = str(tmp_path / "untraced.json")
    assert layers.untraced_p50(path, "w 1 abc") is None
    for v in (1.0, 3.0, 2.0):
        layers.remember_p50(path, "w 1 abc", v)
    layers.remember_p50(path, "w 2 abc", 9.0)
    assert layers.untraced_p50(path, "w 1 abc") == 2.0
    assert layers.untraced_p50(path, "w 1 def") is None
