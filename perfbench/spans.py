"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent) in seconds since the tracer was made;
every span of one run shares the tracer's ``trace_id``. Spans are kept in
memory and written out once, by ``dump``, when the run ends. A span's self
time is its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Records nested spans. ``enabled=False`` makes ``span`` a no-op."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self._t0 = time.monotonic()
        self._stack: list[int] = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic() - self._t0

    @contextmanager
    def paused(self):
        """Record nothing inside this block (the enclosing span still
        measures it)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                if cur_end is None or c["start"] > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c["start"], c["end"]
                else:
                    cur_end = max(cur_end, c["end"])
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def duration(self, name: str) -> float:
        """Summed duration of every span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, **meta) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, **meta, "spans": spans}, f, indent=1)
