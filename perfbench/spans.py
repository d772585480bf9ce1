"""Spans around the benchmark's calls into the engine's layers.

A span is (id, name, parent, start, end) in epoch seconds, the clock the
Spark event log uses. Spans live in memory and are written once at exit.
Each span sets a Spark job group ``perfbench-<id>`` so every job it
launches from this thread can be attributed to it from the event log.
A disabled tracer records nothing and sets no job group, so untraced
runs carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], self.children(span)
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_seconds(self, span: Span) -> float:
        """Duration minus the time its (sequential) children cover."""
        return span.seconds - sum(c.seconds for c in self.children(span))

    def innermost_at(self, t: float) -> Span | None:
        """The deepest span whose interval holds ``t`` (spans nest, so the
        latest-started one holding ``t`` is the deepest)."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_s": self.self_seconds(s)}
                       for s in self.spans], f, indent=1)
