"""Spans recorded around the benchmark's calls into each layer.

A span has a name, wall-clock start and end, the span that opened it and the
build it belongs to. While a span is open, every Spark job the driver starts
carries its id (the ``eventlog.SPAN_PROPERTY`` local property) and its name
as the job description; CPU seconds of the JVM and of the Python workers are
read from ``/proc`` when it opens and closes. Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from . import procstat
from .eventlog import SPAN_PROPERTY


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    build: int | str | None
    start: float  # epoch seconds
    end: float = 0.0
    cpu0: dict = field(default_factory=dict)
    cpu1: dict = field(default_factory=dict)
    rows_out: int = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.spans: list[Span] = []
        self.sc = None  # set once the session exists
        self.build: int | str | None = None
        self._open: list[Span] = []

    def tag(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, span.id if span else None)
            self.sc.setJobDescription(span.name if span else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(
            id=str(len(self.spans)),
            name=name,
            parent=self._open[-1].id if self._open else None,
            build=self.build,
            start=0.0,
            cpu0=procstat.cpu_seconds(self.root_pid),
        )
        self.spans.append(s)
        self._open.append(s)
        self.tag(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            s.cpu1 = procstat.cpu_seconds(self.root_pid)
            self._open.pop()
            self.tag(self._open[-1] if self._open else None)

    def self_time(self, s: Span) -> float:
        """Wall of ``s`` minus the part its child spans cover."""
        kids = sum(c.wall_s for c in self.spans if c.parent == s.id)
        return s.wall_s - kids

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "build": s.build,
                "start": s.start,
                "end": s.end,
                "wall_s": s.wall_s,
                "self_s": self.self_time(s),
                "rows_out": s.rows_out,
            }
            for s in self.spans
        ]
