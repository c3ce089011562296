"""In-memory span tracing for the benchmark's traced run.

Spans are opened by the benchmark's own code around calls into the
program's layers (the program itself is not instrumented).  Each span
records a name, start, end, parent and the run id; spans stay in
memory and are written out once, when the run ends.
"""
from __future__ import annotations

import contextlib
import json
import threading
import time
from concurrent.futures import Future
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1].span_id if stack else None
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(), parent,
                      self.run_id, attrs=dict(attrs))
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def wrap(self, name: str, fn, materialise=None):
        """``fn`` traced as span ``name``; ``materialise(out, span)``
        runs inside the span so lazily returned work is done, and
        attributed, there.  It returns what the caller receives."""

        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if materialise is not None:
                    out = materialise(out, sp, args, kwargs)
            return out

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans) -> dict[int, float]:
    """span_id -> duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.span_id, [])
            if c.end > s.start and c.start < s.end
        )
        out[s.span_id] = s.duration - covered
    return out


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace attributes: ``targets`` is a list of
    (object, attribute name, replacement)."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    try:
        for obj, attr, new in targets:
            setattr(obj, attr, new)
        yield
    finally:
        for obj, attr, old in reversed(saved):
            setattr(obj, attr, old)


class SerialExecutor:
    """Stand-in for ``ThreadPoolExecutor`` in the traced run: runs each
    submitted call at once in the caller's thread, so layer work that
    the program overlaps is attributed one layer at a time."""

    def __init__(self, *args, **kwargs):
        pass

    def submit(self, fn, *args, **kwargs) -> Future:
        fut: Future = Future()
        try:
            fut.set_result(fn(*args, **kwargs))
        except Exception as exc:  # re-raised by fut.result(), as a pool would
            fut.set_exception(exc)
        return fut

    def shutdown(self, wait: bool = True, **kwargs) -> None:
        pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.shutdown()
