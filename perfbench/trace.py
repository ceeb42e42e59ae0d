"""In-memory spans recorded around calls into the program's layers.

A span is ``{id, name, start, end, parent, trace}`` with wall-clock
seconds (``time.time()``, comparable across the load-generator and the
system process on one host). ``trace`` is the shared request or batch id.
Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._prefix = f"p{os.getpid()}-"
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[str]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _record(self, sid, name, start, end, parent, trace, attrs) -> None:
        span = {"id": sid, "name": name, "start": start, "end": end,
                "parent": parent, "trace": trace}
        if attrs:
            span["attrs"] = attrs
        with self._lock:
            self.spans.append(span)

    def add(
        self,
        name: str,
        start: float,
        end: float,
        parent: str | None = None,
        trace: str | None = None,
        **attrs,
    ) -> str:
        """Record a finished span (e.g. one rebuilt from a stage record)."""
        sid = self._prefix + str(next(self._ids))
        self._record(sid, name, start, end, parent, trace, attrs)
        return sid

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        """Time the enclosed call; nests under the thread's open span."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = self._prefix + str(next(self._ids))
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            self._record(sid, name, start, time.time(), parent, trace, attrs)


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, clipped to ``[lo, hi]``."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id → its duration minus the part its children cover."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def check_spans(spans: list[dict], tol: float = 0.005) -> list[str]:
    """Problems with a span set: unknown parents, children outside their
    parent by more than ``tol`` seconds (stage records carry whole
    milliseconds), negative durations or self times."""
    by_id = {s["id"]: s for s in spans}
    problems = []
    if len(by_id) != len(spans):
        problems.append("duplicate span ids")
    for s in spans:
        if s["end"] < s["start"]:
            problems.append(f"{s['id']} {s['name']}: ends before it starts")
        p = s["parent"]
        if p is None:
            continue
        if p not in by_id:
            problems.append(f"{s['id']} {s['name']}: unknown parent {p}")
            continue
        par = by_id[p]
        if s["start"] < par["start"] - tol or s["end"] > par["end"] + tol:
            problems.append(
                f"{s['id']} {s['name']}: outside parent {par['name']}"
            )
    for sid, t in self_times(spans).items():
        if t < -tol:
            problems.append(f"{sid}: negative self time {t:.4f}")
    return problems
