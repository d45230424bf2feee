"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent, run); spans that share ``run`` belong
to one query.  Nothing is written until ``dump`` at the end of the
benchmark, so tracing costs a list append per boundary.  Spans are opened
only by the benchmark's own code; the package itself is not instrumented.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.run = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self._open(name, time.perf_counter(), attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a finished child of the open span (a phase timed elsewhere)."""
        if self.enabled:
            self._open(name, start, attrs)["end"] = end

    def _open(self, name: str, start: float, attrs: dict) -> dict:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run,
            "start": start,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        return rec

    def self_times(self) -> list[float]:
        """Duration minus the time covered by direct children.  Children of
        one span never overlap: every span is opened on the driver thread."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        return [max(0.0, s["end"] - s["start"] - c) for s, c in zip(self.spans, covered)]

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s, own in zip(self.spans, self.self_times()):
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s, own in zip(self.spans, self.self_times()):
                f.write(json.dumps({**s, "self_s": own}) + "\n")


TRACER = Tracer()
