"""Unit tests for the event-log parser and span arithmetic.

Run from the repository root:  python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog
from perfbench.eventlog import Span

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "small_eventlog.jsonl")


def _log():
    with open(FIXTURE) as f:
        return eventlog.parse(f)


# The fixture's spans (epoch seconds). The outer span "graph.materialize"
# holds the child "graph.cc"; "html" is a sibling that ran no job.
SPANS = [
    Span("s1", "graph.materialize", None, 100.0, 110.0),
    Span("s2", "graph.cc", "s1", 102.0, 106.0),
    Span("s3", "html", None, 111.0, 112.0),
]


def test_parse_jobs_stages_and_tasks():
    log = _log()
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert log.jobs[0].group == "s1" and log.jobs[1].group == "s2"
    assert log.jobs[3].group is None
    # stage 4 was listed by job 2 but skipped: no completion, not a stage
    assert sorted(log.stages) == [0, 1, 2, 3, 5]
    st = log.stages[1]
    assert st.group == "s2"
    assert (st.start, st.end) == (102.5, 104.0)
    assert st.tasks == 2 and st.shuffle_bytes == 300 and st.gc_s == pytest.approx(0.03)


def test_stage_group_falls_back_to_job_group():
    # stage 5 has no submission properties; job 3 (no group) listed it
    log = _log()
    assert log.stages[5].group is None
    # stage 0 has no submission event at all; job 0 listed it under s1
    assert log.stages[0].group == "s1"


def test_interval_arithmetic():
    assert eventlog.union([(3, 4), (1, 2), (1.5, 2.5), (5, 5)]) == [(1, 2.5), (3, 4)]
    assert eventlog.subtract([(0, 10)], [(2, 3), (2.5, 4), (9, 12)]) == [(0, 2), (4, 9)]
    assert eventlog.length([(0, 2), (1, 3)]) == 3


def test_nested_spans_self_time():
    stats = {s.span.id: s for s in eventlog.span_stats(SPANS, _log())}
    # the outer span's 10 s minus its child's 4 s
    assert stats["s1"].self_s == pytest.approx(6.0)
    assert stats["s2"].self_s == pytest.approx(4.0)
    assert stats["s3"].self_s == pytest.approx(1.0)
    total = sum(s.self_s for s in stats.values())
    assert total <= 112.0 - 100.0


def test_overlapping_stages_counted_once():
    stats = {s.span.id: s for s in eventlog.span_stats(SPANS, _log())}
    # s2's stages 1 [102.5, 104] and 2 [103.5, 105.5] overlap: their union
    # is 3 s, so 1 s of s2's 4 s ran outside any of its stages
    assert stats["s2"].outside_stage_s == pytest.approx(1.0)
    assert stats["s2"].jobs == 1 and stats["s2"].stages == 2
    assert stats["s2"].shuffle_bytes == 300 + 50
    # s1's own stage 0 [100.5, 101.5] and stage 3 [107, 109] (job 2), and
    # its self time excludes the child's [102, 106]
    assert stats["s1"].outside_stage_s == pytest.approx(6.0 - 1.0 - 2.0)
    assert stats["s1"].jobs == 2


def test_jobs_with_no_span():
    log = _log()
    assert eventlog.unattributed_jobs(SPANS, log) == 1
    # the span that ran no job has no stage time at all
    stats = {s.span.id: s for s in eventlog.span_stats(SPANS, log)}
    assert stats["s3"].jobs == 0 and stats["s3"].outside_stage_s == pytest.approx(1.0)


def test_window_helpers():
    log = _log()
    assert eventlog.jobs_within(log, (100.0, 110.0)) == 3
    # stages 0..3 inside [100, 110]: union 1 + 3 + 2 = 6 s
    assert eventlog.stage_time_within(log, (100.0, 110.0)) == pytest.approx(6.0)


def test_fixture_lines_are_spark_events():
    with open(FIXTURE) as f:
        kinds = {json.loads(line)["Event"] for line in f if line.strip()}
    assert "SparkListenerJobStart" in kinds and "SparkListenerTaskEnd" in kinds
