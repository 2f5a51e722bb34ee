"""Spans recorded from outside the package, around calls into each layer.

With ``enabled=False`` every span is a no-op, so an untraced run times
nothing but whole ops. Enabled, each span gets its own Spark job group;
the group yields the span's job count (from the status tracker) and, in
a session with the event log on, the task metrics of its jobs. Groups
are set per span and restored to the parent's on exit, so jobs are
attributed to the innermost span: span job counts and task metrics are
self figures.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator


@dataclass
class Span:
    name: str
    op: int
    group: str
    parent: str | None
    start: float
    end: float = 0.0
    jobs: int = 0
    children: list["Span"] = field(default_factory=list)

    @property
    def self_s(self) -> float:
        """Duration minus the (sequential) child spans it covers."""
        return (self.end - self.start) - sum(c.end - c.start for c in self.children)


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled or self.op < 0:  # untraced, or outside timed ops
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, f"pb-{len(self.spans)}",
                 parent.group if parent else None, 0.0)
        self.spans.append(s)
        if parent:
            parent.children.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc._jsc.clearJobGroup()
            s.jobs = len(self.sc.statusTracker().getJobIdsForGroup(s.group))


def layer_keys(name: str) -> list[str]:
    """Per-layer names a span contributes to: its own, ``engine`` (the
    whole op), and for a gate's ``construct.<gate>`` / ``execute.<gate>``
    also the phase total."""
    head = name.split(".", 1)[0]
    if head in ("construct", "execute"):
        return [name, head, "engine"]
    return [name, "engine"]


def per_op(spans: list[Span], value) -> dict[str, list[float]]:
    """``{layer name: [per-op total of value(span)]}`` over the ops the
    layer occurs in."""
    acc: dict[str, dict[int, float]] = {}
    for s in spans:
        for k in layer_keys(s.name):
            ops = acc.setdefault(k, {})
            ops[s.op] = ops.get(s.op, 0.0) + value(s)
    return {k: list(v.values()) for k, v in acc.items()}
