"""In-memory spans recorded around calls into the engine's modules.

A span has a name, a start and end (``time.perf_counter`` seconds), the
index of the span that was open when it began (its parent), and an id
shared by every span of one query or pipeline stage. Spans stay in
memory until ``Tracer.dump`` writes them out as JSON lines.

``Tracer.wrap`` swaps a module attribute for a span-recording wrapper
for the length of a ``with`` block. The engine looks its helpers up as
module attributes at call time, so a span around, say,
``functions.cql.extract_bounds`` nests inside the span of the
``plans.store.plan_query`` call that made it. Nothing inside the engine
changes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    sid: str | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
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
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (children clipped to the parent, overlaps counted
    once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            p = spans[sp.parent]
            s, e = max(sp.start, p.start), min(sp.end, p.end)
            if e > s:
                kids.setdefault(sp.parent, []).append((s, e))
    return [sp.duration - _covered(kids.get(i, ())) for i, sp in enumerate(spans)]


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing and
    its ``span`` is a bare ``yield``. A span without an id takes its
    parent's."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, sid: str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if sid is None and parent is not None:
            sid = self.spans[parent].sid
        sp = Span(name, time.perf_counter(), 0.0, parent, sid)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    @contextlib.contextmanager
    def wrap(self, obj, attr: str, name: str):
        """Record a span around every call of ``obj.attr`` inside the block."""
        if not self.enabled:
            yield
            return
        orig = getattr(obj, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(obj, attr, traced)
        try:
            yield
        finally:
            setattr(obj, attr, orig)

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for i, (sp, s) in enumerate(zip(self.spans, st)):
                f.write(json.dumps({"i": i, **asdict(sp), "self": s}) + "\n")
