"""Pure helpers that turn a run's raw samples and spans into metrics."""

import math
import statistics

PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def percentile(values, p):
    """Nearest-rank percentile `p` (0 < p <= 100) of a non-empty sample."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(values):
    """The highest of PERCENTILES with at least ten samples beyond it.

    Returns (p, value). A sample too small for any of them (fewer than 20
    values) gets its median, labelled 50.
    """
    n = len(values)
    best = 50
    for p in PERCENTILES:
        if n - math.ceil(p / 100.0 * n) >= 10:
            best = p
    return best, percentile(values, best)


def median(values):
    return statistics.median(values)


def union_length(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0, lo
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def driver_share(span, job_windows):
    """Share of a span's wall time during which no Spark job was running."""
    lo, hi = span["start_ms"], span["end_ms"]
    if hi <= lo:
        return 0.0
    return 1.0 - union_length(job_windows, lo, hi) / (hi - lo)


def self_seconds(span, spans):
    """A span's duration minus the part of it its child spans cover."""
    kids = [(s["start_ms"], s["end_ms"]) for s in spans if s["parent"] == span["id"]]
    covered_ms = union_length(kids, span["start_ms"], span["end_ms"])
    return max(0.0, span["seconds"] - covered_ms / 1000.0)


def by_name(spans, name):
    return [s for s in spans if s["name"] == name]
