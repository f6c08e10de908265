"""In-memory spans around the benchmark's calls into each layer.

A span has a name, a start and an end (seconds since the run began), the id
of the span that was open when it started, and the run's trace id. Spans are
kept in a list and written once, when the run ends. A disabled tracer
records nothing and costs one attribute check per span.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "trace": self.trace_id,
               "start": time.perf_counter() - self._t0, "end": None,
               **attrs}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_time(self, span_id: int) -> float:
        """A span's duration minus the part its direct children cover."""
        rec = self.spans[span_id]
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == span_id and s["end"] is not None)
        return (rec["end"] - rec["start"]) - kids

    def write(self, path: str) -> None:
        for s in self.spans:
            if s["end"] is not None:
                s["self"] = self.self_time(s["id"])
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "spans": self.spans}, f)
