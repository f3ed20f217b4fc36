"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import pytest

from perfbench.stats import beyond, median, percentile, summarize, tail_percentile
from perfbench.trace import (
    Span,
    Tracer,
    attribute,
    clip,
    parse_events,
    self_times,
    union_length,
)


# -- percentile selection -----------------------------------------------------


def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99) == 99
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(99) == 50.0
    assert tail_percentile(100) == 90.0
    assert beyond(100, 90.0) == 10
    assert tail_percentile(999) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9
    for n in (20, 100, 1000, 10_000, 12_345):
        assert beyond(n, tail_percentile(n)) >= 10


def test_summarize_reports_n_median_and_tail():
    xs = [float(i) for i in range(1, 121)]
    s = summarize(xs)
    assert s["n"] == 120
    assert s["p50"] == 60.0 and median(xs) == 60.5
    assert s["tail_p"] == 90.0 and s["tail"] == 108.0
    small = summarize([1.0, 2.0, 3.0])
    assert small["tail"] is None and small["p50"] == 2.0


# -- span self time -------------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, None, "query", 0.0, 10.0),
        Span(1, 0, "load", 1.0, 3.0),
        Span(2, 0, "topk", 2.0, 6.0),  # overlaps load: covered 1..6 once
        Span(3, 2, "decode", 2.5, 3.0),
        Span(4, None, "other", 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(4.0 - 0.5)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_spans_and_tags_ops():
    t = Tracer()
    t.op = ("driver", 3)
    with t.span("a"):
        with t.span("b"):
            pass
    t.active = False
    t.count("blocks", 5)
    t.active = True
    t.count("blocks", 2)
    a, b = t.spans
    assert b.parent == a.sid and a.parent is None
    assert a.op == b.op == ("driver", 3)
    assert a.start <= b.start <= b.end <= a.end
    assert t.counters["blocks"] == 2


def test_union_and_clip():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    assert clip([(0, 2), (3, 9), (10, 11)], 1, 5) == [(1, 2), (3, 5)]


# -- event-log attribution ---------------------------------------------------------


def _events():
    def stage(sid, desc, group, t):
        return {
            "Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Submission Time": t},
            "Properties": {"spark.job.description": desc, "spark.jobGroup.id": group},
        }

    def task(sid, run_ms, gc=0, shuffle=0, spill=0, reason="Success"):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": sid,
            "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": gc,
                "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            },
        }

    def job(jid, desc, group, start, end, stages):
        return [
            {
                "Event": "SparkListenerJobStart",
                "Job ID": jid,
                "Submission Time": start,
                "Stage IDs": stages,
                "Properties": {"spark.job.description": desc, "spark.jobGroup.id": group},
            },
            {
                "Event": "SparkListenerJobEnd",
                "Job ID": jid,
                "Completion Time": end,
                "Job Result": {"Result": "JobSucceeded"},
            },
        ]

    evs = []
    evs += job(0, "index.build|write:forward", "", 1000, 3000, [0])
    evs += [stage(0, "index.build|write:forward", "", 1000), task(0, 700, gc=50), task(0, 300)]
    evs += job(1, "index.build|write:segments", "", 3500, 4000, [1, 2])
    evs += [stage(1, "index.build|write:segments", "", 3500), task(1, 200, shuffle=64)]
    evs += [stage(2, "index.build|write:segments", "", 3600), task(2, 100, reason="ExceptionFailure")]
    evs += job(2, "search.cluster.query", "perfbench-sq-0", 9000, 9400, [3])
    evs += [stage(3, "search.cluster.query", "perfbench-sq-0", 9000), task(3, 40), task(3, 60)]
    # a later job listing an already-run stage must not count it again
    evs += job(3, "search.cluster.query", "perfbench-sq-1", 9500, 9600, [3])
    return [json.dumps(e) for e in evs]


def test_event_log_attribution_by_description_group_and_time():
    log = parse_events(_events())
    build = attribute(log, lambda d, g, t: d.startswith("index.build"))
    assert build.jobs == 2
    assert build.run_s == pytest.approx(1.3)
    assert build.gc_s == pytest.approx(0.05)
    assert build.shuffle_write_bytes == 64
    assert build.failed_tasks == 1
    assert union_length(build.intervals) == pytest.approx(2.5)
    forward = attribute(log, lambda d, g, t: d.endswith("write:forward"))
    assert forward.run_s == pytest.approx(1.0) and forward.jobs == 1
    sq0 = attribute(log, lambda d, g, t: g == "perfbench-sq-0")
    assert sq0.jobs == 1 and sq0.run_s == pytest.approx(0.1)
    sq1 = attribute(log, lambda d, g, t: g == "perfbench-sq-1")
    assert sq1.jobs == 1 and sq1.run_s == 0.0
    window = attribute(log, lambda d, g, t: 3000 <= t <= 3550)
    assert window.jobs == 1 and window.run_s == pytest.approx(0.2)
