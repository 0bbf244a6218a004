"""Self-time arithmetic, the attribute wrapping the traced run uses, and
the loop's iteration count."""

from __future__ import annotations

import threading
import types

import pytest

from perfbench.common import iterations
from perfbench.trace import NullTracer, Tracer, layer_totals, self_times


def _span(i, start, end, parent=None, name="s", it=0):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "op": None, "iter": it}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps span 1: union is [1, 6]
        _span(3, 8.0, 12.0, parent=0),  # sticks out: only [8, 10] counts
        _span(4, 1.5, 2.0, parent=1),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(4.0)


def test_layer_totals_keep_only_the_named_iterations():
    spans = [_span(0, 0, 2, name="a", it=0), _span(1, 0, 3, name="a", it=1), _span(2, 0, 1, name="b", it="setup")]
    tot = layer_totals(spans, {0, 1})
    assert tot["a"]["self"] == pytest.approx(5.0) and tot["a"]["calls"] == 2
    assert "b" not in tot


def test_wrap_records_nested_spans_and_uninstall_restores():
    mod = types.ModuleType("fake")
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2  # calls through the module attribute
    orig_inner, orig_outer = mod.inner, mod.outer
    tr = Tracer()
    tr.wrap(mod, "inner", "inner")
    tr.wrap(mod, "outer", "outer")
    tr.wrap(mod, "missing", "missing")  # absent attributes are skipped
    assert mod.outer(1) == 4
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]
    tr.uninstall()
    assert mod.inner is orig_inner and mod.outer is orig_outer


def test_server_thread_spans_parent_to_the_client_span():
    tr = Tracer()
    with tr.span("client") as rec:
        t = threading.Thread(target=lambda: tr.span("server").__enter__())
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    server = [s for s in tr.spans if s["name"] == "server"][0]
    assert server["parent"] == rec["id"]


def test_null_tracer_records_nothing():
    tr = NullTracer()
    with tr.span("x"):
        pass
    tr.wrap(object(), "y", "y")
    tr.uninstall()


def test_iteration_count_follows_the_budget_and_is_at_least_one():
    assert iterations(12, 3.0) == 4
    assert iterations(12, 17.0) == 1
    assert iterations(40, 17.0) == 2
