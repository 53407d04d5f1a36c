"""Unit tests for the benchmark's measuring code: percentiles, span
self-time arithmetic, run-time wrapping and the event-log parser."""

from __future__ import annotations

import os
import threading
import types

import pytest

from perfbench import stats
from perfbench.spans import (
    Span,
    Tracer,
    deepest_container,
    layer_self_times,
    parse_event_log,
    self_times,
)

DATA = os.path.join(os.path.dirname(__file__), "data")


# -- percentiles ----------------------------------------------------------


def test_percentile_refuses_fewer_than_ten_beyond():
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(list(range(99)), 0.9)  # rank 90: 9 beyond
    assert stats.percentile(list(range(1, 101)), 0.9) == 90  # 10 beyond


def test_percentile_nearest_rank_ignores_input_order():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 10
    assert stats.percentile(values, 0.5) == 3.0
    with pytest.raises(ValueError):
        stats.percentile(values, 1.0)


def test_median_refuses_no_samples():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(stats.TooFewSamples):
        stats.median([])


# -- span self time ---------------------------------------------------------


def _span(i, start, end, parent=None, layer="x", op=1):
    return Span(i, f"s{i}", layer, start, end, parent, op)


def test_self_time_subtracts_children_union_once():
    spans = [
        _span(1, 0.0, 10.0, layer=None),
        _span(2, 1.0, 4.0, parent=1, layer="a"),
        _span(3, 3.0, 6.0, parent=1, layer="b"),  # overlaps span 2
        _span(4, 2.0, 3.0, parent=2, layer="c"),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)  # 10 - union([1,4],[3,6]) = 10 - 5
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(1, 0.0, 5.0), _span(2, 4.0, 9.0, parent=1)]
    assert self_times(spans)[1] == pytest.approx(4.0)


def test_layer_self_times_add_up_to_the_root():
    spans = [
        _span(1, 0.0, 10.0, layer="server"),
        _span(2, 1.0, 9.0, parent=1, layer=None),
        _span(3, 2.0, 5.0, parent=2, layer="exec"),
        _span(4, 5.0, 8.0, parent=2, layer="exec"),
    ]
    lt = layer_self_times(spans)
    assert lt == pytest.approx({"server": 2.0, "unattributed": 2.0, "exec": 6.0})
    assert sum(lt.values()) == pytest.approx(10.0)


def test_handler_thread_spans_nest_under_the_waiting_request():
    clock = iter(float(t) for t in range(100))
    tr = Tracer(clock=lambda: next(clock))
    entered = []
    tr.on_thread_entry = entered.append
    with tr.op("unit") as root:
        def handler():
            with tr.span("handler", None):
                with tr.span("inner", "exec"):
                    pass
        with tr.span("request", "server") as req:
            t = threading.Thread(target=handler)
            t.start()
            t.join(timeout=10)
    assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["handler"].parent == req.id
    assert by_name["inner"].parent == by_name["handler"].id
    assert {s.op for s in tr.spans} == {root.id}
    assert entered == [root]
    lt = layer_self_times(tr.spans)
    assert sum(lt.values()) == pytest.approx(root.dur)


def test_patch_wraps_and_restores_functions_and_methods():
    mod = types.SimpleNamespace(f=lambda x: x + 1)

    class Base:
        def m(self):
            return "base"

    class Child(Base):
        pass

    tr = Tracer()
    seen = []
    tr.patch(mod, "f", "mod.f", "a", after=lambda sp, args, result: seen.append(result))
    tr.patch(Child, "m", "child.m", "b")
    with tr.op("op"):
        assert mod.f(1) == 2
        assert Child().m() == "base"
    assert seen == [2]
    assert {s.name for s in tr.spans} >= {"mod.f", "child.m", "trace.bookkeeping"}
    tr.unpatch()
    assert "m" not in vars(Child)
    n = len(tr.spans)
    assert mod.f(1) == 2 and len(tr.spans) == n


def test_deepest_container_picks_the_innermost_span():
    spans = [_span(1, 0.0, 10.0), _span(2, 2.0, 8.0, parent=1), _span(3, 20.0, 30.0, op=2)]
    assert deepest_container(spans, 1, 3.0, 5.0).id == 2
    assert deepest_container(spans, 1, 0.5, 1.0).id == 1
    assert deepest_container(spans, 1, 21.0, 22.0) is None


# -- event log ----------------------------------------------------------------


def test_event_log_excerpt_parses_jobs_and_stage_metrics():
    with open(os.path.join(DATA, "eventlog_excerpt.jsonl")) as f:
        jobs, stages = parse_event_log(f)
    assert sorted(jobs) == [0, 1, 2, 3]
    assert [jobs[j]["group"] for j in sorted(jobs)] == ["op-1", "op-1", "op-2", "op-2"]
    assert jobs[1]["stages"] == [1, 2]
    assert jobs[0]["start"] == pytest.approx(1792193034.731)
    assert jobs[0]["end"] == pytest.approx(1792193035.422)
    # stages 1 and 4 were skipped: no completion record
    assert sorted(stages) == [0, 2, 3, 5]
    assert stages[0] == {
        "tasks": 4, "run_ms": 1263, "gc_ms": 100, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 1137, "spill_bytes": 0,
    }
    assert stages[2]["shuffle_read_bytes"] == 1137
    assert sum(s["run_ms"] for s in stages.values()) == 1263 + 122 + 152 + 12
