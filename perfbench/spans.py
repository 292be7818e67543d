"""In-memory span recorder for the traced run.

A span records its name, start, end, parent span and query id. Spans are
kept in memory and written out when the run ends. A span's name is
``<layer>.<operation>``; the layer is the repository module the call goes
into (``engine``, ``plans.cache``, ``sources.versioned`` ...). A layer's
self time is the time its spans cover minus the time their child spans
cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.query_id: int | None = None
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._open[-1] if self._open else None,
            "query": self.query_id,
        })
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def _closed(self, since: float):
        return [s for s in self.spans if s["end"] is not None and s["start"] >= since]

    def totals(self, since: float = 0.0) -> dict[str, tuple[float, int]]:
        """Per span name: (total seconds, span count), over spans started
        at or after ``since``."""
        out: dict[str, tuple[float, int]] = {}
        for s in self._closed(since):
            t, n = out.get(s["name"], (0.0, 0))
            out[s["name"]] = (t + s["end"] - s["start"], n + 1)
        return out

    def self_times(self, since: float = 0.0) -> dict[str, float]:
        """Per layer: total self seconds (span time minus child span time)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["end"] is not None and s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None or s["start"] < since:
                continue
            layer = layer_of(s["name"])
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def layer_of(span_name: str) -> str:
    """``plans.metrics.collect_with_metrics`` -> ``plans.metrics``: the span name minus its
    last component."""
    return span_name.rsplit(".", 1)[0]
