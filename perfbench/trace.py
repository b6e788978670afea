"""Span recorder for traced runs.

Spans are recorded from the benchmark's own files: `Recorder.patch`
replaces a public function of the package (a module attribute or class
attribute) with a wrapper that opens a span around the call. The package
itself carries no tracing code. A span is (name, start, end, parent,
op); its layer is the name's first dotted component, and a layer's self
time is its spans' durations minus the time their child spans cover.

Spark is lazy, so spans around plan-building calls measure driver-side
work only; executor time lands in the sink span of the operation whose
action ran it.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager, nullcontext


class NullRecorder:
    """Recorder used by untraced runs: every span is a no-op."""

    enabled = False
    op_id = None

    def span(self, name: str):
        return nullcontext()


class Recorder:
    enabled = True

    def __init__(self):
        # [name, start, end, parent_index, op_id]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, self.wrap(name, orig))
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def spans_of(self, op_ids: set[int]) -> list[list]:
        return [s for s in self.spans if s[4] in op_ids]

    @staticmethod
    def totals(spans: list[list]) -> dict[str, tuple[int, float]]:
        """{span name: (calls, total seconds)}."""
        out: dict[str, tuple[int, float]] = {}
        for name, t0, t1, _, _ in spans:
            n, s = out.get(name, (0, 0.0))
            out[name] = (n + 1, s + (t1 - t0))
        return out

    def self_times(self, spans: list[list]) -> dict[str, float]:
        """{layer: self seconds} over `spans` (indices resolve against
        the full span list)."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        index = {id(s): i for i, s in enumerate(self.spans)}
        out: dict[str, float] = {}
        for s in spans:
            layer = s[0].split(".", 1)[0]
            own = (s[2] - s[1]) - child[index[id(s)]]
            out[layer] = out.get(layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"fields": ["name", "start", "end", "parent", "op"],
                       "spans": self.spans}, fh)
