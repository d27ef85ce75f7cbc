"""In-memory spans around calls into the engine's public functions.

A span records its name, start, end and parent. While a span is open the
Spark job description is ``<name>#<span id>``, so every job the span
triggers can be attributed to it from the event log. Spans are kept in a
list and written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {sp.sid: sp.duration - covered(children.get(sp.sid, []), sp.start, sp.end) for sp in spans}


def child_coverage(spans: list[Span], sid: int) -> float:
    """Share of span ``sid``'s duration covered by its direct children."""
    sp = next(s for s in spans if s.sid == sid)
    kids = [(c.start, c.end) for c in spans if c.parent == sid]
    return covered(kids, sp.start, sp.end) / sp.duration if sp.duration > 0 else 1.0


class Tracer:
    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def _describe(self, sp: Span | None) -> None:
        if self._sc is not None:
            self._sc.setJobDescription(f"{sp.name}#{sp.sid}" if sp else None)

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, stack[-1].sid if stack else None, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        self._describe(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._describe(stack[-1] if stack else None)

    def wrap(self, owner, attr: str, name: str, *, under: str | None = None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs the call in a span.
        With ``under``, only calls made directly inside an open span of that
        name are traced."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            cur = self.current()
            if under is not None and (cur is None or cur.name != under):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr``; ``unwrap_all`` puts the original back."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def span_id(description: str) -> int | None:
    """The span id in a job description set by ``Tracer``, if any."""
    _, sep, tail = description.rpartition("#")
    return int(tail) if sep and tail.isdigit() else None


def ancestors(spans: list[Span], sid: int):
    by_id = {s.sid: s for s in spans}
    cur = by_id.get(sid)
    while cur is not None:
        yield cur
        cur = by_id.get(cur.parent) if cur.parent is not None else None
