"""In-memory span recorder for the traced benchmark run.

A span is (id, name, start, end, parent, run id, thread, attributes). Spans
nest per thread; a span opened on a thread with no open span (a
stream thread of ``Engine.read``) takes the innermost span of the
main thread as its parent. Spans stay in memory and are written once,
when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    thread: int
    attrs: dict = field(default_factory=dict)


def span(tracer: Tracer | None, name: str, **attrs):
    """``tracer.span(name, ...)``, or a no-op context in an untraced run."""
    return contextlib.nullcontext() if tracer is None else tracer.span(name, **attrs)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, self.run_id, threading.get_ident(), attrs)
                )

    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Seconds per span name not covered by the span's children.
        Children on parallel threads may overlap, so coverage is the
        length of the union of their intervals."""
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered, reach = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
