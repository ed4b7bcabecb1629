"""In-memory spans recorded around calls into the package's layers.

A span is one call into a layer's public function: its name, start,
end, parent span and workload id. Spans stay in memory and are written
once, when the run ends. A span's self time is its duration minus the
durations of its child spans.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    workload: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing."""

    def __init__(self, workload: str, enabled: bool = True):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, time.perf_counter(), float("nan"),
                               parent, self.workload))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` with a span-recording wrapper and
        return a function that puts the original back."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, orig)

    def total(self, name: str, start: int = 0, stop: int | None = None
              ) -> float:
        """Summed duration of the spans called ``name`` among
        ``spans[start:stop]``."""
        return sum(s.duration for s in self.spans[start:stop]
                   if s.name == name)

    def count(self, name: str, start: int = 0, stop: int | None = None
              ) -> int:
        return sum(1 for s in self.spans[start:stop] if s.name == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the summed durations of its direct
    children. A Tracer is a single-threaded stack, so a span's children
    never overlap and always lie inside it."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + s.duration
    return {s.id: s.duration - child_s.get(s.id, 0.0) for s in spans}
