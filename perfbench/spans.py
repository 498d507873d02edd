"""Spans around the benchmark's calls into each library layer.

A span records its name, start, end, parent span and op id. Spans stay
in memory and are written out when the run ends. With tracing off,
``span`` hands back one shared no-op context, so the untraced run pays
nothing but a method call.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict

_OFF = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op_id: int | None = None
        self.timed_from = 0
        self._open: list[dict] = []

    def span(self, name: str):
        return self._span(name) if self.enabled else _OFF

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._open[-1]["id"] if self._open else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call (identity when off)."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def layers(self) -> dict[str, dict[str, float]]:
        """Per span name over the spans opened after ``timed_from`` (the
        measured loop): call count, total seconds, self seconds (total
        minus the time its direct children cover)."""
        spans = self.spans[self.timed_from:]
        child_s: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in spans:
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
            agg["n"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - child_s[s["id"]]
        return out
