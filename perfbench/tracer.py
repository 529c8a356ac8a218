"""Layer spans recorded around calls into ``jam_spark``'s public functions.

A traced job runs the program's own orchestration unchanged; the tracer
only swaps each listed function for a wrapper that

- sets the Spark job description to the span name, so the event log
  attributes every Spark job the call (or its consumers' count) starts;
- materialises the call's output at the boundary with ``persist()`` and
  ``count()``, so the layer's work runs inside its own span;
- records the span's wall interval, its parent span and the row counts.

Nothing inside ``jam_spark`` is edited; wrappers are removed on exit.
"""

from __future__ import annotations

import importlib
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class Span:
    name: str
    rep: int
    parent: int | None
    start: float
    end: float = 0.0
    #: row count of each materialised output (tuple outputs give several)
    rows_out: list[int] = field(default_factory=list)
    #: row count of the materialised input, when the target asks for it
    rows_in: int | None = None
    #: markers only note that a call happened; they own no Spark jobs
    marker: bool = False


@dataclass(frozen=True)
class Target:
    """One function binding to trace: ``owner`` is a module path, or a
    module path plus ``:Class`` for a method."""

    owner: str
    attr: str
    span: str
    #: positional argument to persist and count before the call, under the
    #: caller's description (its producer), giving the step's input size
    count_arg: int | None = None
    marker: bool = False


def _resolve(owner: str):
    mod, _, cls = owner.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.rep = 0
        self.enabled = False
        self._stack: list[int] = []
        self._pinned: list[DataFrame] = []

    def description(self, i: int) -> str:
        """Job description of span ``i``: unique per call, so the event
        log separates two calls of one function."""
        return f"{self.spans[i].name}#{i}"

    def _materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        df = df.persist()
        self._pinned.append(df)
        return df, df.count()

    def _wrap(self, fn, t: Target):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            rows_in = None
            if t.count_arg is not None and isinstance(args[t.count_arg], DataFrame):
                args = list(args)
                args[t.count_arg], rows_in = tracer._materialize(args[t.count_arg])
            parent = tracer._stack[-1] if tracer._stack else None
            span = Span(t.span, tracer.rep, parent, time.perf_counter(), rows_in=rows_in, marker=t.marker)
            tracer.spans.append(span)
            if t.marker:
                try:
                    return fn(*args, **kwargs)
                finally:
                    span.end = time.perf_counter()
            tracer._stack.append(len(tracer.spans) - 1)
            tracer.sc.setJobDescription(tracer.description(tracer._stack[-1]))
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out, n = tracer._materialize(out)
                    span.rows_out.append(n)
                elif isinstance(out, tuple):
                    items = []
                    for o in out:
                        if isinstance(o, DataFrame):
                            o, n = tracer._materialize(o)
                            span.rows_out.append(n)
                        items.append(o)
                    out = tuple(items)
                return out
            finally:
                span.end = time.perf_counter()
                tracer._stack.pop()
                tracer.sc.setJobDescription(tracer.description(tracer._stack[-1]) if tracer._stack else None)

        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def installed(self, targets: list[Target]):
        """Swap every target for its traced wrapper; a missing target
        raises, so a renamed layer function fails the traced run loudly."""
        saved = []
        try:
            for t in targets:
                owner = _resolve(t.owner)
                fn = getattr(owner, t.attr)
                saved.append((owner, t.attr, fn))
                setattr(owner, t.attr, self._wrap(fn, t))
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    def release(self) -> None:
        for df in self._pinned:
            df.unpersist()
        self._pinned.clear()

    def self_seconds(self, i: int) -> float:
        """Span ``i``'s wall time minus the time of its non-marker children."""
        s = self.spans[i]
        kids = sum(c.end - c.start for c in self.spans if c.parent == i and not c.marker)
        return (s.end - s.start) - kids
