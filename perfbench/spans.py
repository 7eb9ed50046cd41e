"""In-memory span recorder for the traced run.

A span is ``(name, start, end, parent, pass_id)``; spans of one pass
share its ``pass_id``.  Spans stay in memory until :meth:`Tracer.dump`
writes them out at the end of the run.  A layer's self time is its
span's duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, pass_id: int | str | None = None):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(),
               "end": None, "parent": parent, "pass_id": pass_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def record(self, name: str, start: float, end: float,
               pass_id: int | str | None = None) -> None:
        """Add a finished span under the currently open one (for timings
        taken around calls inside a tight loop)."""
        self.spans.append({
            "id": len(self.spans), "name": name, "start": start,
            "end": end, "parent": self._stack[-1] if self._stack else None,
            "pass_id": pass_id})

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        covered: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + dur - _union(
                covered.get(s["id"], []), s["start"], s["end"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class NullTracer(Tracer):
    """Tracing off: spans cost one no-op context manager."""

    @contextmanager
    def span(self, name: str, pass_id: int | str | None = None):
        yield None

    def record(self, name, start, end, pass_id=None) -> None:
        pass


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
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
