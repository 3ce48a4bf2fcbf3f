"""Spans around the program's layers, recorded from outside.

:func:`instrument` replaces each public function of a layer module (and
the named methods of a layer class) with a wrapper that records a span
while the tracer is on. Nothing inside the program is edited; the
wrappers are module attributes, so every caller that looks the function
up through its module (``bronze.with_rejection_reason(...)``) is traced.

A span holds the op id, its name, start and end, and its parent: the
innermost open span on the same thread or, on a pool thread (or a py4j callback
thread: streaming's ``foreachBatch``) with no open span, the innermost
open span of the thread that started the op.
A call into a layer from inside the same layer folds into the outer
span, so a layer is counted once per outer call. Spans stay in memory
until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    op: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op = -1
        self.spans: list[Span] = []
        self.counts: dict[int, dict[str, float]] = {}  # op -> name -> sum
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def op_scope(self, op: int):
        """Mark the calling thread as the op's thread while it runs."""
        self.op = op
        self._local.stack = self._op_stack = []
        try:
            yield
        finally:
            self.op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        if not self.enabled or (stack and stack[-1].name == name):
            yield None
            return
        top = stack[-1] if stack else (
            self._op_stack[-1] if self._op_stack else None
        )
        with self._lock:
            s = Span(len(self.spans), self.op, name,
                     top.id if top else None, time.perf_counter())
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def add(self, name: str, value: float) -> None:
        """Add ``value`` to the current op's counter ``name``."""
        if self.enabled:
            with self._lock:
                op = self.counts.setdefault(self.op, {})
                op[name] = op.get(name, 0.0) + value

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _wrap(tracer: Tracer, owner, attr: str, name: str) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name):
            return fn(*args, **kwargs)

    setattr(owner, attr, traced)


def public_functions(module) -> list[str]:
    return [
        n for n, f in inspect.getmembers(module, inspect.isfunction)
        if not n.startswith("_") and f.__module__ == module.__name__
    ]


def instrument(tracer: Tracer, layers: dict[str, tuple]) -> None:
    """``layers`` maps a span name to ``(module,)`` — every public
    function defined there — or ``(owner, [attr, ...])``."""
    for name, spec in layers.items():
        owner = spec[0]
        attrs = spec[1] if len(spec) > 1 else public_functions(owner)
        for attr in attrs:
            _wrap(tracer, owner, attr, name)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end)`` intervals, in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (children may overlap each other: the runner's stage pool)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) * 1000.0 - union_ms(kids.get(s.id, []))
        for s in spans
    }


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: summed self ms and call count, over the given
    spans (one op's, usually)."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        t = out.setdefault(s.name, {"self_ms": 0.0, "calls": 0})
        t["self_ms"] += selfs[s.id]
        t["calls"] += 1
    return out
