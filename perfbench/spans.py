"""In-memory span recorder and self-time arithmetic.

Spans are recorded from the benchmark's own code, by wrapping calls into
each layer of the program (``Tracer.wrap``); nothing inside the package is
changed. Each span keeps its name, start, end, parent and attributes; the
parent is the innermost open span of the same thread. Spans stay in memory
until the run ends.

A span's self time is its duration minus the durations of its child spans.
Span stacks are per thread and every wrapper is a synchronous call, so a
span's children are disjoint and lie inside it, and the self times of a
span tree add up to the root's duration exactly.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)
    overhead: float = 0.0  # time the recorder itself added around this span


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, args, kwargs, attrs=None):
        t_in = time.perf_counter()
        stack = self._stack()
        span = Span(name, 0.0, parent=stack[-1] if stack else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        span.start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            stack.pop()
            if attrs is not None:
                span.attrs = attrs(*args, **kwargs)
            span.overhead = (time.perf_counter() - t_in) - (span.end - span.start)

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        """Replace ``owner.attr`` (a function or method) with a spanning
        wrapper; ``attrs(*args, **kwargs)`` may return span attributes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.call(name, orig, args, kwargs, attrs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: its duration minus its children's."""
    out = [s.end - s.start for s in spans]
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.end - s.start
    return out


def descendants(spans: list[Span], root: int) -> list[int]:
    """Indices of ``root`` and every span below it."""
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(i)
    out, todo = [], [root]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(kids.get(i, []))
    return out
