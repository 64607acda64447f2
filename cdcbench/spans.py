"""In-memory spans for the traced run, the micro-batch phase layout, and
the percentile every reported p50/p90 uses.

A span is ``{"name", "start", "end", "parent", "batch_id"}`` with epoch
seconds.  Spans are kept in memory and written out once, at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from datetime import datetime

# the order MicroBatchExecution runs the phases it reports in durationMs
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets"]


class Tracer:
    """Records spans when ``on``; otherwise every call is a no-op.

    ``cost_s`` accumulates the time spent recording, which is the direct
    overhead tracing adds to the traced run."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self.cost_s = 0.0

    @contextmanager
    def span(self, name: str, batch_id=None, parent: str | None = None):
        if not self.on:
            yield
            return
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "batch_id": batch_id})
            self.cost_s += time.time() - end

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def trigger_start(progress: dict) -> float:
    """Epoch seconds at which a trigger began."""
    return datetime.fromisoformat(
        progress["timestamp"].replace("Z", "+00:00")).timestamp()


def progress_spans(progress: dict) -> list[dict]:
    """Lay one trigger's ``durationMs`` phases out as spans, back to back
    from the trigger's start, under a ``triggerExecution`` root."""
    d = progress["durationMs"]
    t0 = trigger_start(progress)
    bid = progress["batchId"]
    out = [{"name": "triggerExecution", "start": t0,
            "end": t0 + d.get("triggerExecution", 0) / 1e3, "parent": None,
            "batch_id": bid}]
    t = t0
    for ph in PHASES:
        if ph in d:
            out.append({"name": ph, "start": t, "end": t + d[ph] / 1e3,
                        "parent": "triggerExecution", "batch_id": bid})
            t += d[ph] / 1e3
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time (seconds) per span name of ONE trigger: the span's
    duration minus its children's durations."""
    child = {}
    for s in spans:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (
                s["end"] - s["start"])
    return {s["name"]: (s["end"] - s["start"]) - child.get(s["name"], 0.0)
            for s in spans}


def pct(xs, q: float) -> float:
    """q-th percentile (linear interpolation) of a non-empty sequence."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
