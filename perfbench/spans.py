"""In-memory spans around the benchmark's calls into the engine's layers.

A span is ``<layer>.<function>`` with start, end, parent span and the id
of the operation (request, report item or pipeline step) it served.
Spans live in a list until the run ends; :func:`layer_self_times` turns
them into per-layer self time (a span's duration minus the time its
child spans cover) and call counts. With tracing off, :meth:`span` hands
back one shared no-op context, so the untraced run pays one method call
per boundary.
"""

from __future__ import annotations

import contextlib
import time

LAYERS = (
    "session",
    "sql",
    "manager",
    "ddf",
    "operators",
    "ml",
    "dedup",
    "text",
    "sketches",
    "similarity",
    "index_store",
    "manifest",
    "streaming",
    "storage",
    "sources",
)

_NOOP = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self.op = ""
        self.overhead_s = 0.0

    def span(self, name: str):
        return self._span(name) if self.enabled else _NOOP

    @contextlib.contextmanager
    def _span(self, name: str):
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        rec = [name, 0.0, 0.0, parent, self.op]
        self.spans.append(rec)
        self._stack.append(idx)
        t1 = time.perf_counter()
        rec[1] = t1
        try:
            yield
        finally:
            t2 = time.perf_counter()
            rec[2] = t2
            self._stack.pop()
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + value

    @contextlib.contextmanager
    def probe(self):
        """Time spent reading probes counts as tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def dump(self) -> list[dict]:
        return [
            {"name": n, "start": a, "end": b, "parent": p, "op": o}
            for n, a, b, p, o in self.spans
        ]


def layer_self_times(spans: list[list]) -> "dict[str, tuple[float, int]]":
    """layer -> (self seconds, calls)."""
    child_time = [0.0] * len(spans)
    for name, start, end, parent, _op in spans:
        if parent >= 0:
            child_time[parent] += end - start
    out: dict[str, list] = {}
    for i, (name, start, end, _p, _op) in enumerate(spans):
        layer = name.split(".", 1)[0]
        acc = out.setdefault(layer, [0.0, 0])
        acc[0] += (end - start) - child_time[i]
        acc[1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}
