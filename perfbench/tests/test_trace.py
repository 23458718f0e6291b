"""Span self time and SQL metric parsing."""

from __future__ import annotations

import pytest

from perfbench.sparkstats import parse_metric
from perfbench.trace import Tracer


def test_self_time_subtracts_covered_child_time():
    t = Tracer()
    root = t.add("run", 0.0, 10.0)
    t.add("query", 1.0, 4.0, parent=root)
    q2 = t.add("query", 3.0, 6.0, parent=root)  # overlaps the first
    t.add("execute", 4.0, 5.0, parent=q2)
    self_times = t.self_times()
    assert self_times["run"] == pytest.approx(5.0)  # 10 - union(1..6)
    assert self_times["query"] == pytest.approx(3.0 + 2.0)
    assert self_times["execute"] == pytest.approx(1.0)


def test_span_context_nests_by_thread():
    t = Tracer()
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert inner.parent == outer.id
    assert outer.parent is None
    assert outer.end >= inner.end >= inner.start >= outer.start


@pytest.mark.parametrize("text,value", [
    ("1,234", 1234.0),
    ("12.5 MiB", 12.5 * 1024**2),
    ("total (min, med, max (stageId: taskId))\n3.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 2.0: task 7))",
     3.0 * 1024),
    ("0 B", 0.0),
])
def test_parse_sql_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)
