"""Arithmetic over a traced run's records: span trees, attribution of
Spark jobs and stages to spans, self time and busy fraction.

A span is a dict with `id`, `parent` (-1 at the root), `name`, `start` and
`end`, times in epoch milliseconds. Spark events carry their own epoch
millisecond times; each is charged to the innermost span whose interval
contains it. There is a single client, so sibling spans never overlap; when
an event falls exactly on a boundary between two spans of the same depth,
the later-starting one takes it.
"""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def depths(spans):
    by_id = {s["id"]: s for s in spans}
    out = {}

    def depth(i):
        if i not in out:
            p = by_id[i]["parent"]
            out[i] = 0 if p not in by_id else depth(p) + 1
        return out[i]

    for s in spans:
        depth(s["id"])
    return out


class Attributor:
    """Maps an event time to the innermost span that contains it."""

    def __init__(self, spans):
        d = depths(spans)
        # innermost first; among equals, the later start first
        self._spans = sorted(spans, key=lambda s: (-d[s["id"]], -s["start"]))

    def __call__(self, t):
        for s in self._spans:
            if s["start"] <= t <= s["end"]:
                return s["id"]
        return None


def ancestors(spans):
    """span id -> list of its ancestors' ids, nearest first, itself included."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        chain, i = [], s["id"]
        while i in by_id:
            chain.append(i)
            i = by_id[i]["parent"]
        out[s["id"]] = chain
    return out


def union_ms(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover; children
    are (start, end) pairs and may overlap one another."""
    return (span["end"] - span["start"]) - union_ms(children, span["start"], span["end"])


def busy_frac(task_run_s, wall_s, cores):
    """Share of the cores' time spent running tasks during `wall_s`."""
    return task_run_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0
