"""In-memory spans for the traced run.

A span is one call into a layer, timed from the benchmark's side of
the boundary: name, start, end, the span that caused it and the op it
belongs to. Spans stay in memory and are written out once, when the
run ends. A layer's self time is its span durations minus the part of
each span that its child spans cover.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans when enabled; a disabled tracer only times."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, within: int) -> dict[str, float]:
        """Self time summed by span name over the descendants of span
        ``within``."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        keep = self._descendants(within)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["id"] in keep:
                out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)

    def _descendants(self, root: int) -> set[int]:
        found = {root}
        for s in self.spans:  # parents are always recorded before children
            if s["parent"] in found:
                found.add(s["id"])
        found.discard(root)
        return found
