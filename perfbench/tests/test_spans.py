"""Self-time arithmetic and the span recorder."""

from __future__ import annotations

import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Span, Tracer, descendants, self_times  # noqa: E402


def tree() -> list[Span]:
    #  root [0, 10]
    #  ├── a [1, 4]
    #  │   └── a1 [2, 3]
    #  ├── b [4.5, 6]
    #  └── c [9, 9.5]
    return [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("a1", 2.0, 3.0, parent=1),
        Span("b", 4.5, 6.0, parent=0),
        Span("c", 9.0, 9.5, parent=0),
    ]


def test_self_times_on_synthetic_tree():
    st = self_times(tree())
    # root: 10 - (3 + 1.5 + 0.5) = 5; a: 3 - 1 = 2
    assert st == pytest.approx([5.0, 2.0, 1.0, 1.5, 0.5])


def test_self_times_of_a_tree_add_up_to_its_root():
    spans = tree()
    assert sum(self_times(spans)) == pytest.approx(spans[0].end - spans[0].start)


def test_descendants():
    assert sorted(descendants(tree(), 1)) == [1, 2]
    assert sorted(descendants(tree(), 0)) == [0, 1, 2, 3, 4]


def test_tracer_records_parents_attrs_and_restores():
    mod = types.SimpleNamespace()
    mod.outer = lambda x: mod.inner(x) + 1
    mod.inner = lambda x: x * 2
    orig_outer, orig_inner = mod.outer, mod.inner
    tr = Tracer()
    tr.wrap(mod, "outer", "outer", lambda x: {"x": x})
    tr.wrap(mod, "inner", "inner")
    assert mod.outer(3) == 7
    outer, inner = tr.spans
    assert (outer.name, outer.parent, outer.attrs) == ("outer", None, {"x": 3})
    assert (inner.name, inner.parent) == ("inner", 0)
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert outer.overhead >= 0.0
    tr.restore()
    assert (mod.outer, mod.inner) == (orig_outer, orig_inner)


def test_tracer_closes_span_when_the_call_raises():
    mod = types.SimpleNamespace(boom=lambda: 1 / 0)
    tr = Tracer()
    tr.wrap(mod, "boom", "boom")
    with pytest.raises(ZeroDivisionError):
        mod.boom()
    assert tr.spans[0].end >= tr.spans[0].start > 0
    assert tr._stack() == []
