"""Timing and in-memory spans.

`Timer` times calls into the package; with a `Tracer` attached (the traced
run) it also records a span for each.  A span has a name, start, end and
parent.  Spans nest through a stack: the span open when another starts is
its parent.  Self time is a span's duration minus the union of the
intervals its children cover.  Nothing is written until `dump`, after the
run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "start_s": s["start"] - t0,
                "end_s": s["end"] - t0,
                "self_s": selfs[s["id"]],
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)


class Timer:
    """Times each call; keeps every duration by name."""

    def __init__(self, tracer: Tracer | None = None):
        self.tracer = tracer
        self.times: dict[str, list[float]] = {}

    def __call__(self, name: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        if self.tracer is None:
            out = fn(*args, **kwargs)
        else:
            with self.tracer.span(name):
                out = fn(*args, **kwargs)
        self.times.setdefault(name, []).append(time.perf_counter() - t0)
        return out
