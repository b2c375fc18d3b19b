"""In-memory span recorder for the traced benchmark run.

A span is ``(name, start, end, parent, run_id)`` with wall-clock epoch
seconds, so spans recorded in this process line up with the stage and task
timestamps Spark's status store reports. Spans stay in memory and are
written out once, when the run ends.

The benchmark records spans only around calls into the package's public
functions (``Tracer.wrap`` replaces a module attribute for the length of
the traced run and restores it afterwards); nothing inside the package is
changed.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def add(self, name: str, start: float, end: float, parent: int | None) -> Span:
        with self._lock:
            span = Span(len(self.spans), name, start, end, parent, self.run_id)
            self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, parent: int | None = None) -> Iterator[Span | None]:
        """Span around the block; its parent is ``parent`` if given, else
        the innermost open span of this thread."""
        if not self.enabled:
            yield None
            return
        span = self.add(name, time.time(), 0.0, self.current() if parent is None else parent)
        self._stack().append(span.id)
        try:
            yield span
        finally:
            self._stack().pop()
            span.end = time.time()

    def wrap(self, module: object, attr: str, name: str) -> None:
        """Record a span around every call of ``module.attr`` until
        ``unwrap_all``."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        """``span`` and all its descendants."""
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run_id": self.run_id, **extra, "spans": [asdict(s) for s in self.spans]},
                f,
            )
