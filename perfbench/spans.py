"""Per-layer summary of recorded spans: count, total and self time.

A span's self time is its duration minus the durations of its direct
children, clipped to the span's own interval so a child that outlives
its parent cannot make the parent's self time negative.
"""


def summarize(spans):
    """spans: dicts with id, parent, name, start_ns, end_ns.
    Returns {name: {"count", "total_ms", "self_ms"}}."""
    by_id = {s["id"]: s for s in spans}
    child_ns = {}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is None:
            continue
        lo = max(s["start_ns"], parent["start_ns"])
        hi = min(s["end_ns"], parent["end_ns"])
        if hi > lo:
            child_ns[parent["id"]] = child_ns.get(parent["id"], 0) + hi - lo
    out = {}
    for s in spans:
        total = s["end_ns"] - s["start_ns"]
        own = max(0, total - child_ns.get(s["id"], 0))
        row = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0,
                                         "self_ms": 0.0})
        row["count"] += 1
        row["total_ms"] += total / 1e6
        row["self_ms"] += own / 1e6
    return out
