"""In-memory spans around the benchmark's calls into each library layer.

A span has a name (``<layer>.<call>``), start and end (perf_counter
seconds), its parent span and the id of the op that caused it.  Spans
are kept in a list and written once, when the run ends.  A disabled
tracer records nothing and costs one attribute test per call.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Span-name prefix -> library layer (package module).  Longest match wins.
LAYERS = [
    "collection", "filters", "knn", "router", "ann", "pipeline", "dedup",
    "streaming.ingest",
]


def layer_of(name: str) -> str:
    """The layer a span times; ``bench`` for the benchmark's own spans."""
    matches = [layer for layer in LAYERS if name.startswith(layer + ".")]
    return max(matches, key=len) if matches else "bench"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_op = 0

    @contextmanager
    def op(self, kind: str):
        """The root span of one benchmark op; every span opened inside
        it shares its op id."""
        if not self.enabled:
            yield
            return
        self._next_op += 1
        with self._span("op." + kind, self._next_op):
            yield

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        op = self._stack[-1]["op"] if self._stack else 0
        with self._span(name, op):
            yield

    @contextmanager
    def _span(self, name: str, op: int):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": 0.0,
            "end": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    # ------------------------------------------------------------ analysis

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover
        (children are nested and sequential: one client thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def summary(self) -> dict:
        """Per span name: count, p50 of duration and of self time."""
        selft = self.self_times()
        by = defaultdict(list)
        for s in self.spans:
            by[s["name"]].append((s["end"] - s["start"], selft[s["id"]]))
        return {
            name: {
                "count": len(v),
                "p50_s": statistics.median(d for d, _ in v),
                "self_p50_s": statistics.median(x for _, x in v),
            }
            for name, v in sorted(by.items())
        }

    def layer_shares(self, skip: str = "op.setup") -> dict[str, float]:
        """Each layer's summed self time as a share of the summed time of
        the root op spans (set-up excluded); the ``bench`` share is the
        benchmark's own work, mostly output checks."""
        selft = self.self_times()
        roots = [s for s in self.spans if s["parent"] is None and s["name"] != skip]
        ops = {s["op"] for s in roots}
        total = sum(s["end"] - s["start"] for s in roots)
        shares = {layer: 0.0 for layer in LAYERS + ["bench"]}
        for s in self.spans:
            if s["op"] in ops:
                shares[layer_of(s["name"])] += selft[s["id"]]
        return {k: (v / total if total > 0 else 0.0) for k, v in shares.items()}

    def write(self, path: str, extra: dict) -> None:
        selft = self.self_times()
        spans = [dict(s, self_s=selft[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"summary": self.summary(), **extra, "spans": spans}, f, indent=1)
