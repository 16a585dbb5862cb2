"""In-memory spans for the traced run.

A span is (name, start, end, parent) around one call into a module's
public function, made from the benchmark's own op code. A span opened
with ``harvest=True`` also carries the Spark status-store counters of the
work that ran inside it. Spans stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, harvester):
        self._harvester = harvester
        self._stack: list[int] = []
        self.spans: list[Span] = []
        self.op = 0

    @contextmanager
    def span(self, name: str, harvest: bool = False):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent, op=self.op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        mark = self._harvester.mark() if harvest else None
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                s.counters = self._harvester.harvest(mark, s.seconds)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def maybe_span(tracer: Tracer | None, name: str, harvest: bool = False):
    """``tracer.span(...)`` when tracing, else a no-op context."""
    return tracer.span(name, harvest) if tracer is not None else nullcontext()
