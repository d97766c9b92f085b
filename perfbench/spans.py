"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, op, attrs).  Spans opened inside
one timed operation share its `op` id.  With tracing off every call is a
no-op, so the untraced runs that give the end-to-end figures time the
same code with nothing recorded.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0

    def new_op(self) -> None:
        self._op += 1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self._op, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, **attrs) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and all(s["attrs"].get(k) == v for k, v in attrs.items())]

    def median(self, name: str, **attrs) -> float:
        return statistics.median(self.durations(name, **attrs))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)
