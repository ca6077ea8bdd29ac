"""In-memory spans recorded around the calls the benchmark makes.

A span has a name, start, end (epoch seconds), a parent span id and the
run id shared by every span of one benchmark run. Spans are kept in
memory and written out once, when the run ends. ``NullTracer`` is the
untraced twin: same calls, nothing recorded.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id}
        )
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        sid = self.add(name, time.time(), float("nan"), parent)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


class NullTracer:
    enabled = False

    def add(self, name, start, end, parent):
        return None

    @contextmanager
    def span(self, name, parent=None):
        yield None


def layer_of(name: str) -> str:
    """Span name → layer: the part before ``/`` (``plans.construct/q_x``
    → ``plans.construct``)."""
    return name.split("/", 1)[0]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per layer: each span's duration minus the part
    of it that its children cover (children clipped to the parent)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted(
            (max(lo, c["start"]), min(hi, c["end"])) for c in children.get(s["id"], [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + max(0.0, (hi - lo) - covered)
    return out
