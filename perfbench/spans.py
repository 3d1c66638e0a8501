"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run id). Spans are kept in a list
and written out once, when the run ends. A layer's self time is the sum
of its spans' durations minus the time their child spans cover.

The tracer also keeps the cost the traced run adds to the measured
work: the persisted materializations that split lazily fused layers
(:meth:`Tracer.split`) and its own span bookkeeping. That sum is
``trace.overhead_s``.

With ``enabled=False`` every method is a no-op that still runs the
wrapped call, so the untraced run pays nothing but a flag test.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: seconds spent in work the untraced run does not do
        self.added_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.monotonic()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "start": None, "end": None,
               "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.monotonic()
        self.added_s += rec["start"] - t0
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.added_s += time.monotonic() - rec["end"]

    def split(self, df, name: str | None = None):
        """Materialize *df* (persisted, eagerly) — inside a *name* span if
        given — so the lazily fused layer that produced it is timed on
        its own. The untraced run returns *df* untouched. The materialization counts
        as added cost in full, although it also carries the layer's own
        compute: ``trace.overhead_s`` is an upper bound."""
        if not self.enabled:
            return df
        before, t0 = self.added_s, time.monotonic()
        if name is None:
            df = df.localCheckpoint(eager=True)
        else:
            with self.span(name):
                df = df.localCheckpoint(eager=True)
        self.added_s = before + time.monotonic() - t0
        return df

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time covered by its
        direct children (children of one span never overlap — spans are
        strictly nested on one thread)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) - child_time[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
