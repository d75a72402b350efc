"""In-memory spans recorded around calls into the program's public functions.

A span has a name, a start, an end, the span that was open when it started
and the run id shared by every span of one benchmark run. Spans stay in
memory and are written once, when the run ends. A disabled tracer records
nothing, so the untraced runs that give the end-to-end metrics pay only a
no-op context manager per call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Iterator


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = float("nan")

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        s = Span(
            span_id=len(self.spans),
            name=name,
            parent=self._open[-1] if self._open else None,
            run_id=self.run_id,
            start=time.perf_counter(),
        )
        # Appended on entry so span ids are list indices and parents precede
        # their children.
        self.spans.append(s)
        self._open.append(s.span_id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, edge = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, edge, span.start), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return span.seconds - covered

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total seconds and self seconds."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            row = out.setdefault(s.name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s.seconds
            row["self_s"] += self.self_seconds(s)
        return out

    def write(self, path: str, extra: dict) -> None:
        doc = {
            "run_id": self.run_id,
            "spans": [asdict(s) for s in self.spans],
            "self_time": self.summary(),
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)


# Records nothing; stands in wherever a call is not traced.
UNTRACED = Tracer("", enabled=False)
