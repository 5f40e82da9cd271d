"""In-memory spans recorded by the benchmark around its calls into each
layer. A span has a name, start, end, parent and optional counters;
self time is the span's duration minus the time its children cover.
Spans are written out once, when the run ends."""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    status: str = "ok"
    counters: dict = field(default_factory=dict)


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` costs one
    clock read and records nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        except BaseException:
            s.status = "error"
            raise
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self, root: int) -> dict[str, float]:
        """Self seconds per span name over the subtree under ``root``
        (the root's own self time included)."""
        children: dict[int | None, list[Span]] = defaultdict(list)
        for s in self.spans:
            children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        todo = [self.spans[root]]
        while todo:
            s = todo.pop()
            kids = children[s.id]
            out[s.name] += (s.end - s.start) - sum(k.end - k.start for k in kids)
            todo.extend(kids)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
