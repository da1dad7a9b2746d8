"""Arithmetic the benchmark reports with: percentiles, interval unions,
span self time, job-to-span attribution and module tagging of Spark
jobs from their call sites. Pure functions over plain lists and dicts;
tested by test_benchlib.py.
"""
import math
import re

# The library's modules under src/main/scala/graft/, as layers.
MODULES = ("sources", "core", "checks", "layers", "lake", "streaming",
           "ext", "functions", "queries")
# The lake's streaming source and sink belong to the streaming layer.
_STREAMING_CLASSES = ("TxMicroBatch", "TxStreamingWrite", "TxStreamSource",
                      "TxStreamSink", "TxStreamDataWriter")
_FRAME = re.compile(r"(?:^|[\s/])graft\.([A-Za-z0-9_.$]+)")


def percentile(values, q):
    """Linear interpolation between closest ranks (q in [0, 1])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n, want=0.9, beyond=10):
    """The highest quantile up to `want` that leaves at least `beyond`
    samples above it among `n`; never below the median."""
    if n <= 0:
        raise ValueError("no samples")
    return max(0.5, min(want, 1.0 - beyond / n))


def tail_percentile(values, want=0.9, beyond=10):
    """(quantile actually used, its value) under the tail rule."""
    q = tail_quantile(len(values), want, beyond)
    return q, percentile(values, q)


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_time(start, end, child_intervals):
    """A span's duration minus the part its children cover."""
    return (end - start) - union_length(clip(child_intervals, start, end))


def module_of(call_site, streaming=False):
    """Layer of a Spark job: the module of the innermost `graft.<module>`
    frame in its `callSite.long`. With no such frame it is `graft` when a
    top-level `graft.X` object is on the stack, `streaming` when a
    streaming query submitted it, else the benchmark's own (`bench`)."""
    top = False
    for line in (call_site or "").splitlines():
        m = _FRAME.search(line)
        if not m:
            continue
        parts = m.group(1).split(".")
        if len(parts) >= 2 and parts[0] in MODULES:
            if parts[0] == "lake" and parts[1].startswith(_STREAMING_CLASSES):
                return "streaming"
            return parts[0]
        top = True
    if top:
        return "graft"
    return "streaming" if streaming else "bench"


def attribute(jobs, spans, slack_ms=1.0):
    """Map job id -> span id. A job belongs to the span its submitting
    thread had open, when that span's window contains the job's start;
    otherwise (lineage pool threads) to the innermost span whose window
    contains it: the latest-starting one, the shortest on ties."""
    by_id = {s["id"]: s for s in spans}
    ordered = sorted(spans, key=lambda s: (s["start"], -(s["end"] - s["start"])))
    out = {}
    for j in jobs:
        t = j["start"]
        own = by_id.get(_int(j.get("span")))
        if own and own["start"] - slack_ms <= t <= own["end"] + slack_ms:
            out[j["id"]] = own["id"]
            continue
        best = None
        for s in ordered:
            if s["start"] - slack_ms > t:
                break
            if t <= s["end"] + slack_ms:
                best = s
        if best is not None:
            out[j["id"]] = best["id"]
    return out


def iteration_counts(values, prefix="lake_after_"):
    """[(iteration, counts)] from values keyed `<prefix><kind> <n>`,
    ordered by the iteration number n, whatever the order of the keys."""
    its = [(int(k.rsplit(" ", 1)[1]), c) for k, c in values.items()
           if k.startswith(prefix)]
    return sorted(its, key=lambda x: x[0])


def descendants(spans):
    """span id -> set of ids of the span and everything below it."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out = {}

    def walk(i):
        if i not in out:
            acc = {i}
            for k in kids.get(i, []):
                acc |= walk(k)
            out[i] = acc
        return out[i]
    for s in spans:
        walk(s["id"])
    return out


def _int(v):
    try:
        return int(v)
    except (TypeError, ValueError):
        return None
