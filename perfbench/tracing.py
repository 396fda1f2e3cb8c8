"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, start, end, parent and pass id.  Spans stay in memory
and are written out once, when the run ends.  With tracing off,
:class:`Tracer` records nothing and each ``span`` is a bare ``yield``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, pass_id: int | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if pass_id is None and parent is not None:
            pass_id = self.spans[parent].pass_id
        self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent, pass_id))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part of
        it covered by its child spans (children never overlap: calls are
        sequential)."""
        child_cover = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_cover[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_cover[s.sid]
        return out

    def coverage(self, root_name: str, leaf_prefixes: tuple[str, ...], pass_id=None) -> list[float]:
        """For each span named ``root_name`` (of pass ``pass_id`` only, if
        given): share of its wall time covered by spans of the same pass
        whose names start with one of ``leaf_prefixes`` (the layer spans,
        which never overlap)."""
        covered: dict[int | None, float] = {}
        for s in self.spans:
            if s.name != root_name and s.name.startswith(leaf_prefixes):
                covered[s.pass_id] = covered.get(s.pass_id, 0.0) + s.end - s.start
        return [
            covered.get(s.pass_id, 0.0) / (s.end - s.start)
            for s in self.spans
            if s.name == root_name and s.end > s.start and pass_id in (None, s.pass_id)
        ]

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
