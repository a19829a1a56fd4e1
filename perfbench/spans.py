"""In-memory span recorder for the traced run.

A span is (id, name, start, end, parent, run id) with times in epoch
seconds; counts hang off the span they were measured in. Spans are kept
in memory and written out once, as a JSON sidecar, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **counts) -> int:
        """Record a finished span (used for spans rebuilt from engine
        events, such as a micro-batch from its progress report)."""
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "run": self.run_id,
                           "counts": dict(counts)})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        sid = self.add(name, time.time(), float("nan"), parent)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_ms_by_name": self_ms_by_name(self.spans), **extra},
                      fh, indent=1, default=str)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_ms(spans) -> dict[int, float]:
    """Each span's duration minus the part its children cover, in ms.

    Children that overlap each other are counted once; a child running
    past its parent's end is clipped to the parent."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: 1000.0 * ((s["end"] - s["start"])
                           - _covered(children[s["id"]], s["start"], s["end"]))
        for s in spans
    }


def self_ms_by_name(spans) -> dict[str, float]:
    by_id = self_ms(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += by_id[s["id"]]
    return dict(out)
