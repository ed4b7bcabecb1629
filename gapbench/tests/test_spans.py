import math
import types

from gapbench.spans import Span, Tracer, self_times


def test_self_time_subtracts_direct_children():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "w"),
        Span(1, "a", 1.0, 4.0, 0, "w"),
        Span(2, "b", 5.0, 7.0, 0, "w"),
        Span(3, "a.inner", 1.5, 2.5, 1, "w"),   # counts against a only
        Span(4, "a.inner2", 3.0, 3.5, 1, "w"),
    ]
    own = self_times(spans)
    assert math.isclose(own[0], 10.0 - 3.0 - 2.0)
    assert math.isclose(own[1], 3.0 - 1.0 - 0.5)
    assert math.isclose(own[2], 2.0)
    assert math.isclose(own[3], 1.0)
    assert math.isclose(own[4], 0.5)


def test_tracer_nests_and_restores_wrapped_functions():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = Tracer("w")
    undo = tr.wrap(mod, "f", "layer.f")
    with tr.span("outer"):
        assert mod.f(1) == 2
        assert mod.f(2) == 3
    undo()
    assert mod.f is orig
    names = [(s.name, s.parent) for s in tr.spans]
    assert names == [("outer", None), ("layer.f", 0), ("layer.f", 0)]
    assert tr.count("layer.f") == 2
    assert tr.count("layer.f", 0, 2) == 1
    assert tr.total("layer.f", 0, 2) == tr.spans[1].duration
    outer = tr.spans[0]
    assert self_times(tr.spans)[0] <= outer.duration
    assert tr.total("layer.f") <= outer.duration


def test_disabled_tracer_records_nothing():
    tr = Tracer("w", enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []
