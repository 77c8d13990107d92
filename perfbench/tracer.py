"""In-memory spans around the calls into each layer.

Spans are recorded from the benchmark's own files: ``Tracer.wrap`` replaces a
module attribute with a timing wrapper, so a package function that calls
``module.fn(...)`` (or a global it imported by name) runs through the span.
Nothing in the package changes. Spans stay in memory until the run ends.

The benchmark is one closed-loop client: while a ``foreachBatch`` callback
runs on py4j's callback thread, the main thread only waits. One stack shared
by both threads therefore gives every span its true parent.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from perfbench.spark_stats import union_length


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: str = ""


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        t0 = time.perf_counter()
        with self._lock:
            parent = self.current()
            sp = Span(
                span_id=len(self.spans),
                name=name,
                start=time.time(),
                parent=parent.span_id if parent else None,
                trace_id=trace_id if trace_id is not None
                else (parent.trace_id if parent else ""),
            )
            self.spans.append(sp)
            self._stack.append(sp)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            with self._lock:
                self._stack.remove(sp)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, module, attr: str, name: str | None = None, trace_id=None,
             after=None):
        """Route ``module.attr`` through a span named ``name``.
        ``trace_id(args, kwargs)`` names the span's trace (an epoch id);
        ``after(span, result)`` records counts on the span."""
        orig = getattr(module, attr)
        label = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            tid = trace_id(args, kwargs) if trace_id else None
            with self.span(label, trace_id=tid) as sp:
                result = orig(*args, **kwargs)
                if after is not None:
                    after(sp, result)
                return result

        self.patch(module, attr, wrapper)

    def patch(self, module, attr: str, replacement) -> None:
        """Replace ``module.attr`` until ``unwrap_all``."""
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, replacement)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- analysis --------------------------------------------------------

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = union_length([(c.start, c.end) for c in self.children(sp)],
                               sp.start, sp.end)
        return (sp.end - sp.start) - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
