"""Span arithmetic for the traced run.

A span is a dict with kind, name, pass, start and end (epoch milliseconds).
Kinds nest by depth: a pass holds queries; a query holds its construct,
execute and release phases; those hold stored-layout builds, micro-batches,
Spark jobs and Catalyst phases. A span's parent is the deepest shallower span
that contains it.

Self time: every instant of a pass is charged to the deepest span active at
that instant (the latest started one on a tie), so the self times of a
pass's spans add up to its wall time exactly.
"""
import json

DEPTH = {
    "pass": 0, "query": 1, "construct": 2, "execute": 2, "release": 2,
    "layout_build": 3, "microbatch": 4, "job": 5,
    "catalyst.analysis": 5, "catalyst.optimization": 5, "catalyst.planning": 5,
}
KINDS = list(DEPTH)


def metric_name(kind):
    return kind.replace(".", "_")


def in_pass(spans, p):
    """The spans of pass `p`, clipped to its interval. Harness spans carry
    their pass; listener and build spans are placed by time."""
    lo, hi = p["start_ms"], p["end_ms"]
    out = []
    for s in spans:
        if s["kind"] in ("pass", "query", "construct", "execute", "release"):
            if s["pass"] != p["pass"]:
                continue
        if s["end"] <= lo or s["start"] >= hi:
            continue
        out.append(dict(s, start=max(s["start"], lo), end=min(s["end"], hi)))
    return out


def self_times(spans, lo, hi):
    """Milliseconds charged to each kind over [lo, hi]."""
    cuts = sorted({lo, hi} | {s["start"] for s in spans} | {s["end"] for s in spans})
    cuts = [c for c in cuts if lo <= c <= hi]
    ordered = sorted(spans, key=lambda s: (DEPTH[s["kind"]], s["start"]))
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        owner = None
        for s in ordered:
            if s["start"] <= a and s["end"] >= b:
                owner = s
        kind = owner["kind"] if owner else "pass"
        out[kind] = out.get(kind, 0.0) + (b - a)
    return out


def covered_s(spans, kind, lo, hi):
    """Seconds of [lo, hi] covered by at least one span of `kind`."""
    iv = sorted((max(s["start"], lo), min(s["end"], hi)) for s in spans if s["kind"] == kind)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3


def jobs_inside(spans, kind):
    """Jobs that started inside a span of `kind`."""
    outer = [s for s in spans if s["kind"] == kind]
    return sum(1 for j in spans if j["kind"] == "job"
               and any(o["start"] <= j["start"] < o["end"] for o in outer))


def with_parents(spans):
    """Gives each span an id and the id of its parent."""
    spans = sorted(spans, key=lambda s: (s["start"], DEPTH[s["kind"]]))
    out = []
    for i, s in enumerate(spans):
        parent = None
        for j in range(i - 1, -1, -1):
            c = out[j]
            if (DEPTH[c["kind"]] < DEPTH[s["kind"]] and c["start"] <= s["start"]
                    and s["end"] <= c["end"]
                    and (parent is None or DEPTH[c["kind"]] > DEPTH[parent["kind"]])):
                parent = c
        out.append(dict(s, id=i, parent=parent["id"] if parent else None))
    return out


def write_trace(path, result):
    """Writes every traced pass's spans with parents and self times."""
    passes = []
    for p in result["passes"]:
        if not p["traced"]:
            continue
        mine = in_pass(result["spans"], p)
        selfs = self_times(mine, p["start_ms"], p["end_ms"])
        passes.append({
            "pass": p["pass"], "wall_ms": p["end_ms"] - p["start_ms"],
            "self_ms": selfs, "self_sum_ms": sum(selfs.values()),
            "spans": with_parents(mine)})
    with open(path, "w") as fh:
        json.dump({"passes": passes}, fh)
