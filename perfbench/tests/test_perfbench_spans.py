import time

import pytest

from spans import Tracer, self_times


class Engine:
    def outer(self, n):
        time.sleep(0.01)
        return self.inner(n) + self.inner(n)

    def inner(self, n):
        time.sleep(0.005)
        return n


def test_spans_nest_under_the_right_parent():
    tr = Tracer()
    tr.wrap(Engine, "outer", "api.outer", "api")
    tr.wrap(Engine, "inner", "store.inner", "store")
    try:
        assert Engine().outer(2) == 4  # no open operation: nothing recorded
        assert tr.spans == []
        with tr.op("request"):
            assert Engine().outer(3) == 6
        with tr.op("request"):
            Engine().inner(1)
    finally:
        tr.unwrap_all()
    names = [(s["name"], s["parent"], s["op"]) for s in tr.spans]
    assert names == [
        ("request", None, 1),
        ("api.outer", 0, 1),
        ("store.inner", 1, 1),
        ("store.inner", 1, 1),
        ("request", None, 2),
        ("store.inner", 4, 2),
    ]
    assert Engine.outer.__name__ == "outer" and not hasattr(Engine.outer, "__wrapped__")


def test_self_times_add_up_to_the_operation():
    tr = Tracer()
    tr.wrap(Engine, "outer", "api.outer", "api")
    tr.wrap(Engine, "inner", "store.inner", "store")
    try:
        with tr.op("request"):
            Engine().outer(1)
    finally:
        tr.unwrap_all()
    st = self_times(tr.spans)
    root = tr.spans[0]
    assert sum(st.values()) == pytest.approx(root["end"] - root["start"], abs=1e-9)
    assert st[1] >= 0.009  # outer's own sleep
    assert st[2] >= 0.004 and st[3] >= 0.004


def test_self_time_is_duration_minus_covered_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st == {0: pytest.approx(5.0), 1: pytest.approx(2.0), 2: 3.0, 3: 1.0}


def test_wrapping_module_functions():
    import types

    mod = types.SimpleNamespace(resync=lambda x: x + 1)
    tr = Tracer()
    tr.wrap(mod, "resync", "ann.resync", "ann", on_result=lambda rec, out, args: rec.update(out=out))
    with tr.op("sync"):
        assert mod.resync(1) == 2
    tr.unwrap_all()
    assert tr.spans[1]["name"] == "ann.resync" and tr.spans[1]["out"] == 2
    assert mod.resync(1) == 2
