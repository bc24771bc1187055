"""In-memory spans for the traced run.

A span records name, layer, start, end, parent and run id; starts and
ends are epoch seconds so they line up with the Spark event log's
stage times. Spans are kept in memory and written out once, at exit.

Self time is attributed along the timeline: every instant inside a
root span goes to the deepest span active at that instant, so the
self times of all layers under a root add up to the root's duration
exactly, even when spans from driver threads overlap.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float
    run_id: str


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record a span around the block (a no-op when disabled)."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, parent, name, layer, start, time.time(), self.run_id))

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None) -> None:
        """Record a span measured elsewhere (driver threads, Spark stages)."""
        if self.enabled:
            self.spans.append(Span(next(self._ids), parent, name, layer, start, end, self.run_id))

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(s)) + "\n")

    def self_times(self, root_id: int) -> dict[str, float]:
        """Layer -> self seconds over the root span's interval."""
        by_id = {s.id: s for s in self.spans}
        depth: dict[int, int] = {}

        def depth_of(sid: int) -> int:
            if sid not in depth:
                parent = by_id[sid].parent
                depth[sid] = 0 if sid == root_id or parent not in by_id else depth_of(parent) + 1
            return depth[sid]

        def under_root(s: Span) -> bool:
            while s.id != root_id:
                if s.parent not in by_id:
                    return False
                s = by_id[s.parent]
            return True

        root = by_id[root_id]
        members = [s for s in self.spans if under_root(s)]
        cuts = sorted({root.start, root.end, *(t for s in members for t in (s.start, s.end))})
        out: dict[str, float] = {}
        for lo, hi in zip(cuts, cuts[1:]):
            if lo < root.start or hi > root.end:
                continue
            mid = (lo + hi) / 2
            active = [s for s in members if s.start <= mid < s.end] or [root]
            deepest = max(active, key=lambda s: depth_of(s.id))
            out[deepest.layer] = out.get(deepest.layer, 0.0) + (hi - lo)
        return out
