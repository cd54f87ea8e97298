"""In-memory spans around calls into the program's layers.

A traced run wraps public functions of ``gasket_spark`` from outside
(the wrapped function object is swapped for a timing wrapper in every
loaded module that bound it) and records one span per call: name,
start, end, parent and the id of the benchmark query execution it
belongs to. Spans stay in memory until the run writes them out; self
time is derived afterwards. Timed runs never install these wrappers.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    qid: str | None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.qid: str | None = None
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> Span:
        stack = self._stack()
        # A callback thread (e.g. a streaming foreachBatch function)
        # runs while the main thread blocks inside a span: nest there.
        parent = (stack[-1] if stack else
                  self._main_stack[-1] if self._main_stack else None)
        span = Span(len(self.spans), name, time.perf_counter(), 0.0,
                    parent, self.qid)
        self.spans.append(span)
        stack.append(span.id)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == span.id:
            stack.pop()

    def end_all(self) -> None:
        """End every span still open on the main thread."""
        while self._main_stack:
            self.end(self.spans[self._main_stack[-1]])

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)
        return traced


# Span name -> (module, attribute) of each traced layer boundary. A
# module entry with attribute "*" wraps every public function that
# module defines.
BOUNDARIES = (
    ("io.read_table", "gasket_spark.io", "read_table"),
    ("cache.fill", "gasket_spark.io", "checkpoint_tracked"),
    ("pipeline.pipe", "gasket_spark.pipeline.engine", "Engine.pipe"),
    ("pipeline.stage", "gasket_spark.pipeline.stages", "run_stage"),
    ("pipeline.command_stage", "gasket_spark.pipeline.stages",
     "run_command_stage"),
    ("operators.dedup", "gasket_spark.operators.dedup", "*"),
    ("operators.similarity", "gasket_spark.operators.similarity", "*"),
    ("operators.graph", "gasket_spark.operators.graph", "*"),
    ("operators.bpe", "gasket_spark.operators.bpe", "*"),
)


def install(tracer: Tracer, dataframe_cls):
    """Swap every boundary function for a traced wrapper, in its own
    module and in every loaded ``gasket_spark`` module that imported it
    by name. Returns a function that restores the originals."""
    targets: list[tuple[str, object]] = []
    swaps: list[tuple[object, str, str]] = []  # (owner, attribute, span)
    for name, modname, attr in BOUNDARIES:
        mod = importlib.import_module(modname)
        if attr == "*":
            targets += [(name, fn) for key, fn in vars(mod).items()
                        if inspect.isfunction(fn) and not key.startswith("_")
                        and fn.__module__ == modname]
        elif "." in attr:
            cls, meth = attr.split(".")
            swaps.append((getattr(mod, cls), meth, name))
        else:
            targets.append((name, getattr(mod, attr)))
    swaps += [(dataframe_cls, meth, "cache.fill")
              for meth in ("persist", "cache")]
    span_of = {id(fn): (name, fn) for name, fn in targets}
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("gasket_spark") or mod is None:
            continue
        swaps += [(mod, key, span_of[id(val)][0])
                  for key, val in list(vars(mod).items())
                  if id(val) in span_of and span_of[id(val)][1] is val]
    restore = []
    for owner, attr, name in swaps:
        original = getattr(owner, attr)
        setattr(owner, attr, tracer.wrap(name, original))
        restore.append((owner, attr, original))

    def uninstall() -> None:
        for owner, attr, original in restore:
            setattr(owner, attr, original)

    return uninstall


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s.start
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            b, e = max(c.start, edge), min(c.end, s.end)
            if e > b:
                covered += e - b
                edge = e
        out[s.id] = (s.end - s.start) - covered
    return out


def nesting_errors(spans: list[Span], slack: float = 1e-6) -> list[str]:
    """Spans that end before they start, children outside their
    parent's interval, or negative self time."""
    by_id = {s.id: s for s in spans}
    errs = []
    for s in spans:
        if s.end < s.start:
            errs.append(f"span {s.id} {s.name} ends before it starts")
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None and (s.start < p.start - slack
                              or s.end > p.end + slack):
            errs.append(f"span {s.id} {s.name} leaves parent {p.name}")
    errs += [f"span {i} has negative self time"
             for i, t in self_times(spans).items() if t < -slack]
    return errs


def outermost(spans: list[Span]) -> list[Span]:
    """Spans with no ancestor of the same name, so nested calls within
    one layer are not counted twice."""
    by_id = {s.id: s for s in spans}

    def nested(s: Span) -> bool:
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None:
            if p.name == s.name:
                return True
            p = by_id.get(p.parent) if p.parent is not None else None
        return False

    return [s for s in spans if not nested(s)]
