"""Self time and span parentage of the benchmark's tracer."""

from __future__ import annotations

import threading
import types

import pytest

from perfbench import trace


def _span(i, name, parent, start, end):
    return trace.Span(i, 0, name, parent, start, end)


def test_self_time_subtracts_the_union_of_overlapping_children():
    spans = [
        _span(0, "runner", None, 0.0, 10.0),
        _span(1, "io.write", 0, 1.0, 4.0),
        _span(2, "io.write", 0, 2.0, 6.0),  # overlaps span 1
        _span(3, "gold.build", 0, 8.0, 9.0),
    ]
    selfs = trace.self_times(spans)
    assert selfs[0] == pytest.approx(10_000 - 5_000 - 1_000)
    assert selfs[1] == pytest.approx(3_000)
    totals = trace.layer_totals(spans)
    assert totals["io.write"] == {"self_ms": pytest.approx(7_000), "calls": 2}


def test_wrapped_calls_nest_fold_and_reach_pool_threads():
    mod = types.ModuleType("fake_layer")
    mod.outer = lambda: mod.inner() + 1
    mod.inner = lambda: 1
    mod.outer.__module__ = mod.inner.__module__ = "fake_layer"
    tracer = trace.Tracer()
    trace.instrument(tracer, {"layer": (mod,)})
    with tracer.op_scope(7):
        tracer.enabled = True
        with tracer.span("root"):
            assert mod.outer() == 2
            t = threading.Thread(target=mod.outer)
            t.start()
            t.join(timeout=10)
        tracer.enabled = False
    assert not t.is_alive()
    root, *rest = tracer.spans
    assert root.name == "root" and all(s.op == 7 for s in tracer.spans)
    # inner() folds into its caller's span of the same layer; the pool
    # thread's span hangs under the op's open span
    assert [(s.name, s.parent) for s in rest] == [("layer", root.id)] * 2
