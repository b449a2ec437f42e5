"""Spans for the traced run: kept in memory, written to one file when the
run ends, and folded into per-layer self times.

A span is (id, name, start, end, parent, run). A layer's self time is its
span's duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """A span measured elsewhere (a phase timing the program returns)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "start": start,
                               "end": end, "parent": parent, "run": self.run_id, **attrs})

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def inner(*a, **k):
            with self.span(name):
                return fn(*a, **k)

        return inner

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "summary": summary, "spans": self.spans}, f)


def _union(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time (s) of every span: duration minus the union of its
    children's intervals, so concurrent children count once."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - _union(kids[s["id"]]) for s in spans}


def covered_share(spans: list[dict], parent_id: int) -> float:
    """Share of a span's wall time that its children cover."""
    p = spans[parent_id]
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == parent_id]
    wall = p["end"] - p["start"]
    return _union(kids) / wall if wall > 0 else 0.0
