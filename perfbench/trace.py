"""In-memory spans around the benchmark's calls into the engine's layers.

A span has a name, a start and an end (``time.perf_counter`` seconds), the
index of its parent span (or ``None``) and the execution id shared by the
spans of one query execution.  Spans are kept in a list and written out
once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    exec_id: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, exec_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if exec_id is None and parent is not None:
            exec_id = self.spans[parent].exec_id
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, exec_id))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def nesting_errors(spans: list[dict]) -> list[str]:
    """Every child span must lie inside its parent; returns violations."""
    errs = []
    for i, s in enumerate(spans):
        p = s["parent"]
        if p is None:
            continue
        ps = spans[p]
        if not (ps["start"] <= s["start"] <= s["end"] <= ps["end"]):
            errs.append(f"span {i} {s['name']} outside parent {p} {ps['name']}")
    return errs
