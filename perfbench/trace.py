"""Spans of a traced run and their roll-up into per-layer self time.

A span is ``{"name", "start", "end", "parent", "op"}`` with wall-clock
seconds.  Spans from the harness's own calls (one per layer call) nest by
construction; Spark stage spans (REST submission/completion times) and
streaming trigger spans (listener progress) are attached to the innermost
span that encloses their midpoint.

Self time of a layer is the time during which that layer is the innermost
active one: overlapping stages count once, and a stage inside a streaming
trigger inside ``operators.build`` counts only for ``spark``.
"""

from __future__ import annotations

# innermost first: a higher rank wins the time it overlaps
RANK = {
    "spark.stage": 5,
    "streaming.trigger": 4,
    "collect": 3,
    "operators.build": 2,
    "catalyst.plan": 2,
    "execute": 2,
    "ingest.load": 2,
    "ingest.export": 2,
    "op": 1,
}
LAYER = {
    "spark.stage": "spark",
    "streaming.trigger": "streaming",
    "collect": "collect",
    "operators.build": "operators",
    "catalyst.plan": "catalyst",
    "execute": "driver",
    "ingest.load": "ingest",
    "ingest.export": "ingest",
    "op": "harness",
}
LAYERS = tuple(dict.fromkeys(LAYER.values()))


def attach(spans: list[dict], extra: list[dict]) -> None:
    """Give each span of ``extra`` the innermost enclosing span of ``spans``
    as parent, then append it."""
    for s in extra:
        mid = (s["start"] + s["end"]) / 2
        best = None
        for i, p in enumerate(spans):
            if p["start"] <= mid <= p["end"] and (
                best is None or RANK[p["name"]] >= RANK[spans[best]["name"]]
            ):
                best = i
        s["parent"] = best
    spans.extend(extra)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer during which it is the innermost active span,
    clipped to the root span of the operation."""
    out = {layer: 0.0 for layer in LAYERS}
    if not spans:
        return out
    root = spans[0]
    edges = sorted(
        {root["start"], root["end"]}
        | {
            min(max(t, root["start"]), root["end"])
            for s in spans
            for t in (s["start"], s["end"])
        }
    )
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        active = [s["name"] for s in spans if s["start"] <= mid < s["end"]]
        if active:
            out[LAYER[max(active, key=RANK.__getitem__)]] += b - a
    return out
