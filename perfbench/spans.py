"""In-memory span recorder for the traced run.

A span has a name, a start and end time, a parent span and the id of the
operation it belongs to (one registry query execution, or one E1/E2 call).
Spans live in a list while the run goes on and are written once at the
end. Self time is a span's duration minus the durations of its children.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    hook_s: float = 0.0  # time children's counter hooks took inside this span
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; ``on_enter``/``on_exit`` hooks let a counter
    collector attach Spark counters to each span. Hook time lies outside
    the span it serves and is charged to the parent's ``hook_s``, so self
    times plus hook times add up to the wall time."""

    def __init__(self, on_enter=None, on_exit=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._on_enter = on_enter
        self._on_exit = on_exit

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans), name=name,
            op=op if op is not None else (parent.op if parent else ""),
            parent=parent.id if parent else None, start=0.0,
        )
        self.spans.append(s)
        self._stack.append(s)
        t_hook = time.perf_counter()
        if self._on_enter:
            self._on_enter(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(s, parent)
            if parent is not None:
                parent.hook_s += (s.start - t_hook) + (time.perf_counter() - s.end)

    def self_times(self) -> dict[int, float]:
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return {s.id: s.dur - child[s.id] - s.hook_s for s in self.spans}

    def dump(self, path: str, extra: dict | None = None) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["start"], d["end"] = s.start - t0, s.end - t0
            rows.append(d)
        with open(path, "w") as f:
            json.dump({**(extra or {}), "spans": rows}, f, indent=1, sort_keys=True)
