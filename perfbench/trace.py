"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, start, end (``perf_counter`` seconds), the id of the span
that caused it, and optional attributes such as CPU by process kind.  Spans
stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the body; yields the span's attribute dict
        so the body can attach measurements (CPU, counts) to it."""
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_time[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **(extra or {})},
                      f, indent=1, default=float)
