"""The span recorder."""

import pytest

import spans


def test_self_time_subtracts_child_spans(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 6.0, 10.0])
    monkeypatch.setattr(spans.time, "perf_counter", lambda: next(clock))
    tr = spans.Tracer(True)
    tr.query_id = 1
    with tr.span("bench.query"):             # 0 .. 10
        with tr.span("engine.resolve"):      # 1 .. 3
            pass
        with tr.span("engine.collect"):      # 4 .. 6
            pass
    assert tr.self_times() == {"bench": pytest.approx(6.0), "engine": pytest.approx(4.0)}
    assert tr.totals()["engine.resolve"] == (pytest.approx(2.0), 1)
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert {s["query"] for s in tr.spans} == {1}


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(False)
    with tr.span("engine.resolve"):
        pass
    assert tr.spans == [] and tr.self_times() == {}


def test_layer_of_keeps_dotted_module_names():
    assert spans.layer_of("plans.metrics.collect_with_metrics") == "plans.metrics"
    assert spans.layer_of("sources.versioned.append") == "sources.versioned"

