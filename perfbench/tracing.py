"""Spans around the benchmark's calls into each layer.

Every span tags the Spark jobs submitted inside it with its own job
group, so the event log attributes jobs and task metrics to the span
that caused them.  Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

from eventlog import GroupStats


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"span-{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def op(self) -> int | None:
        return self._stack[-1].op if self._stack else None

    def _tag(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, op, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(parent)

    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Context manager that replaces ``owner.attr`` with a version
        running inside a span called ``name`` (nested under the open
        span), restoring the original on exit.  ``on_result(span, out)``
        may record counts from the call's return value."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name, self.op) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        @contextlib.contextmanager
        def patched():
            setattr(owner, attr, traced)
            try:
                yield
            finally:
                setattr(owner, attr, fn)

        return patched()

    def subtree(self, span: Span) -> list[Span]:
        """``span`` and every span nested under it."""
        out, frontier = [span], {span.id}
        for s in self.spans[span.id + 1 :]:
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.id)
        return out

    def inclusive(self, span: Span, groups: dict[str, GroupStats]) -> GroupStats:
        """Event-log totals of the jobs submitted inside ``span``,
        nested spans included."""
        tot = GroupStats()
        for s in self.subtree(span):
            g = groups.get(s.group)
            if g is not None:
                for k, v in asdict(g).items():
                    setattr(tot, k, getattr(tot, k) + v)
        return tot

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
