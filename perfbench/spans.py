"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent, pass id) plus process-tree CPU read
at its edges when tracing. Spans stay in memory and are written out once,
at exit. Untraced runs record spans too, without the ``/proc`` reads: the
per-operation latencies come from them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable, Iterator

from procstat import TreeCpu


@dataclass
class Span:
    id: int  # index in Tracer.spans
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    parent: int | None = None
    pass_id: str = ""
    cpu: tuple[TreeCpu, TreeCpu] | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class Tracer:
    """Records spans. ``cpu`` is the process-tree CPU reader used at span
    edges, or None to skip it (untraced passes)."""

    def __init__(self, cpu: Callable[[], TreeCpu] | None = None):
        self.spans: list[Span] = []
        self.cpu = cpu
        self._open: list[int] = []
        self._kids: dict[int | None, list[int]] = {}
        self._kids_of = 0  # len(spans) when _kids was built
        self.pass_id = ""

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        read = self.cpu
        c0 = read() if read else None
        s = Span(
            len(self.spans),
            name,
            time.time(),
            parent=self._open[-1] if self._open else None,
            pass_id=self.pass_id,
            attrs=attrs,
        )
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if read:
                s.cpu = (c0, read())

    def children(self, i: int) -> list[int]:
        if self._kids_of != len(self.spans):
            self._kids = {}
            for s in self.spans:
                self._kids.setdefault(s.parent, []).append(s.id)
            self._kids_of = len(self.spans)
        return self._kids.get(i, [])

    def self_time(self, i: int) -> float:
        """Span ``i``'s duration minus the part its children cover."""
        s = self.spans[i]
        kids = [(self.spans[j].start, self.spans[j].end) for j in self.children(i)]
        return s.duration - covered(kids, s.start, s.end)

    def descendants(self, i: int) -> list[int]:
        out, todo = [], [i]
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(self.children(j))
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        rows = []
        for s in self.spans:
            row = asdict(s)
            row["self_s"] = self.self_time(s.id)
            rows.append(row)
        with open(path, "w") as f:
            json.dump({"spans": rows, **(extra or {})}, f, default=str)
