"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, trace_id): ``parent`` is the index
of the enclosing span, and spans of one document (or one query) share
its url (or query name) as ``trace_id``. Spans stay in memory until
``write`` dumps them once at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        rec = [name, time.perf_counter(), None, parent, trace_id]
        self.spans.append(rec)
        self._open.append(idx)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._open.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"name": n, "start": t0, "end": t1, "parent": p,
                        "id": tid} for n, t0, t1, p, tid in self.spans], f)
