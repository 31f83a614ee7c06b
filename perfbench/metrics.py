"""Metric arithmetic of the benchmark: percentiles, the tail rule, span
self-time, driver idle time and job-to-span attribution. Pure functions
over plain lists and dicts; tested by perfbench/tests/test_metrics.py."""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")
MB = 1e6


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def median(values):
    return statistics.median(values) if values else None


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    With n samples sorted ascending, the k-th (1-based) has n - k samples
    above it, so the tail is the (n-10)-th value and its percentile is
    100 * (n - 10) / n. Returns (value, percentile, n); value and
    percentile are None when n < 11."""
    n = len(values)
    if n < 11:
        return None, None, n
    s = sorted(values)
    return s[n - 11], 100.0 * (n - 10) / n, n


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _depth(span, by_id):
    d, p = 0, span["parent"]
    while p in by_id:
        d, p = d + 1, by_id[p]["parent"]
    return d


def attribute(spans, jobs):
    """Map job id -> span id: the innermost span open at the job's start.
    Among open spans of equal depth (concurrent siblings), the one whose
    name the job carries as its span property wins. Jobs outside every
    span map to None (the root)."""
    by_id = {s["id"]: s for s in spans}
    depth = {s["id"]: _depth(s, by_id) for s in spans}
    out = {}
    for j in jobs:
        open_ = [s for s in spans if s["start"] <= j["start"] < s["end"]]
        if not open_:
            out[j["id"]] = None
            continue
        deepest = max(depth[s["id"]] for s in open_)
        cands = [s for s in open_ if depth[s["id"]] == deepest]
        named = [s for s in cands if s["name"] == j.get("span")]
        out[j["id"]] = (named or sorted(cands, key=lambda s: s["start"]))[0]["id"]
    return out


def span_calls(spans):
    """Number of spans of each name."""
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0) + 1
    return out


def layer_metrics(spans, jobs, window, span_names, write_spans):
    """Per-layer measures for every span name in `span_names`, per call
    (the mean over that name's spans, so a window holding more or fewer
    calls reads the same), plus two totals over `window` (ms):
    root.self_s, the time no top-level span covers, and harness.self_s,
    the benchmark's own housekeeping spans ("harness")."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    owner = attribute(spans, jobs)
    job_iv = [(j["start"], j["end"]) for j in jobs]
    out = {}
    for name in span_names:
        mine = [s for s in spans if s["name"] == name]
        ids = {s["id"] for s in mine}
        js = [j for j in jobs if owner.get(j["id"]) in ids]
        wall = sum(s["end"] - s["start"] for s in mine)
        kids = sum(covered([(c["start"], c["end"]) for c in children.get(s["id"], [])],
                           s["start"], s["end"]) for s in mine)
        busy = sum(covered(job_iv, s["start"], s["end"]) for s in mine)
        n = max(len(mine), 1)
        out[name + ".self_s"] = (wall - kids) / 1000.0 / n
        out[name + ".jobs"] = len(js) / n
        out[name + ".task_s"] = sum(j["task_ms"] for j in js) / 1000.0 / n
        out[name + ".shuffle_mb"] = sum(j["shuffle_bytes"] for j in js) / MB / n
        out[name + ".spill_mb"] = sum(j["spill_bytes"] for j in js) / MB / n
        out[name + ".idle_s"] = (wall - busy) / 1000.0 / n
        if name in write_spans:
            out[name + ".written_mb"] = sum(j["written_bytes"] for j in js) / MB / n
    top = [(s["start"], s["end"]) for s in spans if s["parent"] not in by_id]
    lo, hi = window
    out["root.self_s"] = ((hi - lo) - covered(top, lo, hi)) / 1000.0
    out["harness.self_s"] = sum(
        (s["end"] - s["start"]) - covered([(c["start"], c["end"])
                                           for c in children.get(s["id"], [])],
                                          s["start"], s["end"])
        for s in spans if s["name"] == "harness") / 1000.0
    return out
