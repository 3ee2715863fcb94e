"""In-memory spans recorded around the benchmark's calls into the program.

A run span parents one span per pass; a pass span parents one span per
call phase (`<call>.build`, `<call>.exec`).  All spans of a run share one
trace id.  Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._origin = time.monotonic()

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        s = {
            "trace_id": self.trace_id,
            "span_id": uuid.uuid4().hex[:16],
            "parent_id": parent["span_id"] if parent else None,
            "name": name,
            "start": time.monotonic() - self._origin,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(s)
        try:
            yield s
        finally:
            s["end"] = time.monotonic() - self._origin

    def write(self, path: str, **header) -> None:
        with open(path, "w") as fh:
            json.dump({**header, "trace_id": self.trace_id, "spans": self.spans}, fh)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_time(span: dict, spans: list[dict]) -> float:
    """The span's duration minus the part its child spans cover."""
    kids = [(c["start"], c["end"]) for c in spans if c["parent_id"] == span["span_id"]]
    return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])
