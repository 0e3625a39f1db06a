"""In-memory span recorder for the traced benchmark run.

A span is (trace id, span id, parent id, name, start, end). The benchmark
wraps each call into a library module in a span whose name starts with the
module path (``operators.sharded.build_bloom_sharded``), so a layer's self
time is the summed duration of its spans minus the time covered by their
child spans. Spans stay in memory and are written out once, when the run
ends. The untraced run uses ``NullTracer``, whose spans cost one no-op
context manager.
"""

from __future__ import annotations

import contextlib
import json
import time

# Layer of a span = the longest of these prefixes its name starts with.
LAYERS = (
    "bench", "session", "sources", "hashing", "sketches", "spark",
    "operators.build", "operators.sharded", "operators.probe", "plans",
)


def layer_of(name: str) -> str:
    best = ""
    for layer in LAYERS:
        if (name == layer or name.startswith(layer + ".")) and len(layer) > len(best):
            best = layer
    if not best:
        raise ValueError(f"span {name!r} belongs to no layer in {LAYERS}")
    return best


class NullTracer:
    enabled = False
    sc = None

    def new_trace(self) -> None:
        pass

    @contextlib.contextmanager
    def span(self, name: str):
        yield


class Tracer:
    """Records nested spans of one driver thread. When a SparkContext is
    given, the Spark job description is set to the innermost span's name,
    so jobs in the event log carry the layer that issued them."""

    enabled = True

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._trace = 0

    def new_trace(self) -> None:
        """Start a new trace id: one per workload repetition."""
        self._trace += 1

    @contextlib.contextmanager
    def span(self, name: str):
        layer_of(name)  # reject names outside the layer map up front
        rec = {"trace": self._trace, "id": len(self.spans),
               "parent": self._stack[-1]["id"] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobDescription(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(
                    self._stack[-1]["name"] if self._stack else None)

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus its children's.
        Spans of one thread nest strictly, so children never overlap."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s, c in zip(self.spans, child):
            if s["end"] is not None:
                out[layer_of(s["name"])] += (s["end"] - s["start"]) - c
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"layers": list(LAYERS), "spans": self.spans}, f)
