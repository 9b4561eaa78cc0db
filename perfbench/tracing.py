"""In-memory spans recorded around the calls the benchmark makes into
each layer, and the self-time arithmetic over them.

A span has a name, start, end, parent span and iteration id.  Spans stay
in memory and are written once, when the run ends.  A layer's self time
is its span's duration minus the time its child spans cover.

Two kinds of span:

- ``span(name)``: a ``with`` block around a call;
- ``begin(name)``: a *trailing* span for a lazy layer whose work the
  program triggers later, from its own body (a Spark action on the
  layer's DataFrame).  It stays open until the next span starts at the
  same level or its parent ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    iteration: int | None
    end: float | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.iteration: int | None = None
        self._stack: list[Span] = []
        self._trailing: Span | None = None
        self._ids = itertools.count(1)

    def _new(self, name: str, now: float) -> Span:
        parent = self._stack[-1].id if self._stack else None
        return Span(next(self._ids), name, now, parent, self.iteration)

    def _close_trailing(self, now: float) -> None:
        if self._trailing is not None:
            self._trailing.end = now
            self.spans.append(self._trailing)
            self._trailing = None

    @contextlib.contextmanager
    def span(self, name: str):
        now = self.clock()
        self._close_trailing(now)
        s = self._new(name, now)
        self._stack.append(s)
        try:
            yield s
        finally:
            end = self.clock()
            self._close_trailing(end)
            s.end = end
            self._stack.pop()
            self.spans.append(s)

    def begin(self, name: str) -> None:
        now = self.clock()
        self._close_trailing(now)
        self._trailing = self._new(name, now)

    def generator(self, name: str, gen):
        """Time only what runs inside ``gen``: one span per ``next``."""
        while True:
            with self.span(name):
                try:
                    item = next(gen)
                except StopIteration:
                    return
            yield item

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the durations of its direct children."""
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            covered[s.parent] += s.duration
    return {s.id: s.duration - covered[s.id] for s in spans}


def iteration_breakdown(spans: list[Span], iteration: int) -> tuple[dict[str, float], float, float]:
    """(self time per layer name, root wall, share of root wall the layer
    spans cover) for one iteration.  Roots are spans without a parent."""
    mine = [s for s in spans if s.iteration == iteration]
    selfs = self_times(mine)
    layers: dict[str, float] = defaultdict(float)
    wall = 0.0
    for s in mine:
        if s.parent is None:
            wall += s.duration
        else:
            layers[s.name] += selfs[s.id]
    covered = sum(layers.values())
    return dict(layers), wall, (covered / wall if wall > 0 else 0.0)


@contextlib.contextmanager
def patched(patches):
    """Temporarily replace attributes: ``patches`` is a list of
    (owner, attribute name, factory taking the original)."""
    saved = []
    try:
        for owner, attr, factory in patches:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, factory(orig))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
