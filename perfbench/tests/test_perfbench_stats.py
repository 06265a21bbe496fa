"""The benchmark's own accounting: tail percentile, failed_frac, spans."""

import sys
import types

import pytest

import layers
import stats
import trace


def test_tail_percentile_is_omitted_below_21_executions():
    assert stats.tail_percentile(0) is None
    assert stats.tail_percentile(20) is None
    assert stats.tail_percentile(21) == 52
    assert stats.tail_percentile(32) == 68
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99


def _beyond(xs, p):
    """How many values lie strictly after the nearest-rank p-th percentile."""
    return sum(1 for x in xs if x > stats.percentile(xs, p))


@pytest.mark.parametrize("n", range(21, 400))
def test_tail_percentile_is_highest_with_ten_beyond(n):
    xs = list(range(n))
    p = stats.tail_percentile(n)
    assert _beyond(xs, p) >= stats.TAIL_BEYOND
    assert _beyond(xs, p + 1) < stats.TAIL_BEYOND


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0
    assert stats.percentile(list(range(1, 33)), 68) == 22  # 10 beyond


def test_failed_frac_counts_raises_and_oracle_mismatches():
    outcomes = {
        "a": [True, True, True],          # clean
        "b": [True, False, True],         # one execution raised
        "c": [True, True],                # result differs from oracle
        "d": [True],                      # never checked: no verdict
    }
    oracle_ok = {"a": True, "b": True, "c": False}
    assert stats.failed_frac(outcomes, oracle_ok) == (9, 1 + 2 + 1)
    assert stats.failed_frac({"a": [True] * 4}, {"a": True}) == (4, 0)


def test_median_and_quartile_spread():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert stats.quartile_spread([9.0, 10.0, 10.0, 11.0]) == pytest.approx(0.15)  # (10.75 - 9.25) / 10


def _span(i, parent, start, end, name, exec_id=0):
    return trace.Span(i, exec_id, name, parent, start, end)


def test_span_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0, "q"),
        _span(1, 0, 0.0, 4.0, "build"),
        _span(2, 1, 1.0, 2.0, "sources.load_table"),
        _span(3, 1, 2.0, 3.5, "sources.load_table"),
        _span(4, 0, 4.0, 9.0, "action"),
    ]
    self_s = trace.self_times(spans)
    assert self_s["q"] == pytest.approx(1.0)
    assert self_s["build"] == pytest.approx(1.5)
    assert self_s["sources.load_table"] == pytest.approx(2.5)
    assert self_s["action"] == pytest.approx(5.0)
    assert sum(self_s.values()) == pytest.approx(10.0)
    assert trace.totals(spans)["sources.load_table"] == (2, pytest.approx(2.5))


def test_tracer_nests_spans_into_one_execution():
    t = trace.Tracer()
    with t.span("q1", new_exec=True):
        with t.span("build"):
            with t.span("sources.load_table"):
                pass
        with t.span("action"):
            pass
    with t.span("q2", new_exec=True):
        pass
    names = [(s.name, s.parent, s.exec_id) for s in t.spans]
    assert names == [("q1", None, 0), ("build", 0, 0), ("sources.load_table", 1, 0), ("action", 0, 0), ("q2", None, 1)]
    assert all(s.end >= s.start for s in t.spans)
    assert [a.name for a in t.ancestors(t.spans[2])] == ["sources.load_table", "build", "q1"]
    assert t.group_of(f"{trace.GROUP_PREFIX}3").name == "action"
    assert t.group_of("someone-else") is None


def test_instrument_wraps_every_imported_reference(monkeypatch):
    def load(x):
        return x + 1

    defining = types.ModuleType("fakepkg.tables")
    defining.load = load
    caller = types.ModuleType("fakepkg.ops")
    caller.load = load  # as after `from fakepkg.tables import load`
    for m in (defining, caller):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    t = trace.Tracer()
    undo = trace.instrument(t, defining, "load", "sources.load", "fakepkg")
    assert caller.load(1) == 2 and defining.load(2) == 3
    assert [s.name for s in t.spans] == ["sources.load", "sources.load"]
    undo()
    assert caller.load is load and defining.load is load


def test_size_metric_parsing():
    assert layers.size_bytes("1.5 MiB") == 1.5 * 2**20
    assert layers.size_bytes("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 1.0: task 2))") == 2048
    assert layers.size_bytes("1,024.0 B") == 1024
    assert layers.size_bytes("") == 0.0
