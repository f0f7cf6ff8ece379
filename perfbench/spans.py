"""In-memory spans for the traced run, and the small statistics helpers
every workload shares.

A span is (name, start, end, parent, run id), with wall-clock times in
seconds. Spans are kept in a list and written out once, when the run
ends. A layer's self time is the time its spans cover minus the part
their child spans cover.
"""

from __future__ import annotations

import json
import math
import statistics

# span name (or name prefix before ":") -> the layer it is charged to
_LAYER_OF = {
    "sources.load": "sources",
    "trigger": "engine",
    "trigger.addBatch": "pipeline",
    "sinks.apply_batch": "sinks",
    "construct": "operators",
    "execute": "operators",
}
LAYERS = ("sources", "engine", "pipeline", "sinks", "operators")


def layer_of(name: str) -> str | None:
    if name in _LAYER_OF:
        return _LAYER_OF[name]
    if name.startswith("trigger."):
        return "engine"  # the other per-trigger phases
    return _LAYER_OF.get(name.split(":", 1)[0])


class Tracer:
    """Collects spans when enabled; every method is a no-op otherwise,
    so the untraced run pays nothing but the ``enabled`` check."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        if not self.enabled:
            return -1
        self.spans.append(
            {"name": name, "start": start, "end": end, "parent": parent, "run": self.run_id}
        )
        return len(self.spans) - 1

    def self_times(self, since: float) -> dict[str, float]:
        """Seconds of self time per layer, over spans that start at or
        after ``since`` (so warm-up is left out)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["parent"] >= 0:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {layer: 0.0 for layer in LAYERS}
        for i, s in enumerate(self.spans):
            layer = layer_of(s["name"])
            if layer is None or s["start"] < since:
                continue
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out[layer] += max(0.0, s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)
