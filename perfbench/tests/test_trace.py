"""Spans: self time, wrapping at the lookup attribute, layer metrics."""

import types

import pytest

from perfbench import trace


def _span(i, name, start, end, parent=None):
    return trace.Span(i, name, start, end, parent, 0)


def test_self_time_subtracts_children():
    spans = [
        _span(0, "api.x", 0.0, 10.0),
        _span(1, "retrieval.retrieve_chunks", 1.0, 4.0, 0),
        _span(2, "spark.collect", 5.0, 9.0, 0),
        _span(3, "retrieval.scoped_chunks", 2.0, 3.0, 1),
    ]
    assert trace.self_times(spans) == {0: 3.0, 1: 2.0, 2: 4.0, 3: 1.0}


def test_self_time_counts_overlap_once_and_clips_to_parent():
    spans = [_span(0, "p", 0.0, 10.0), _span(1, "a", 2.0, 6.0, 0), _span(2, "b", 4.0, 12.0, 0)]
    assert trace.self_times(spans)[0] == pytest.approx(2.0)


def test_op_layer_metrics():
    spans = [
        _span(0, "api.retrieve_chunks", 0.0, 0.010),
        _span(1, "retrieval.retrieve_chunks", 0.001, 0.004, 0),
        _span(2, "retrieval.scoped_chunks", 0.002, 0.003, 1),
        _span(3, "spark.count", 0.0022, 0.0028, 2),
        _span(4, "spark.collect", 0.005, 0.009, 0),
    ]
    m = trace.op_layer_metrics(spans)
    assert m["api.self_ms"] == pytest.approx(3.0)
    assert m["retrieval.plan_ms"] == pytest.approx(2.0)
    assert m["retrieval.probe_ms"] == pytest.approx(1.0)
    assert m["spark.actions"] == 2 and m["spark.execute_ms"] == pytest.approx(4.6)


def test_wrap_module_and_class_attributes_then_restore():
    mod = types.SimpleNamespace(f=lambda x: x + 1)

    class Api:
        def g(self, x):
            return mod.f(x) * 2

    f, g = mod.f, Api.__dict__["g"]
    tracer = trace.Tracer()
    tracer.wrap(mod, "f", "layer.f")
    tracer.wrap(Api, "g", "api.g")
    tracer.op = 7
    assert Api().g(1) == 4
    assert [(s.name, s.parent, s.op) for s in tracer.spans] == [("api.g", None, 7), ("layer.f", 0, 7)]
    tracer.uninstall()
    assert mod.f is f and Api.__dict__["g"] is g
    Api().g(1)
    assert len(tracer.spans) == 2
