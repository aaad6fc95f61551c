"""The benchmark's own arithmetic: percentiles under the ten-beyond rule,
open-loop latency from due time, ratios that keep their base, and span
self time. Kept free of I/O so tests/test_stats.py can pin it."""
import math
import statistics

BEYOND = 10  # samples that must lie above a reported percentile


def percentile(values, p):
    """Nearest-rank p-th percentile, or None when fewer than BEYOND samples
    lie above it (the sample cannot support that percentile)."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    if len(xs) - rank < BEYOND:
        return None
    return xs[rank - 1]


def needed_samples(p):
    """Smallest sample count for which percentile(., p) is supported."""
    n = 1
    while n - max(1, math.ceil(p / 100.0 * n)) < BEYOND:
        n += 1
    return n


def median(values):
    return statistics.median(values) if values else None


def mean(values):
    return statistics.fmean(values) if values else None


def due_latencies_ms(reads):
    """Open-loop latency of each read, measured from when it was due rather
    than from when the generator got to send it, so a stall also charges
    the requests queued behind it."""
    return [(r["end"] - r["due"]) * 1e3 for r in reads]


def lateness_ms(reads):
    """How late the generator sent each read (0 when on schedule)."""
    return [max(0.0, (r["send"] - r["due"]) * 1e3) for r in reads]


def ratio(num, base):
    """A ratio that carries its base: {'value', 'num', 'base'}; value is
    None for an empty base rather than a silent 0."""
    return {"value": (num / base) if base else None, "num": num, "base": base}


def self_times(spans):
    """Per span name: (count, total self seconds). Self time is a span's
    duration minus the part of it covered by its direct children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0
        cursor = s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], cursor), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        n, total = out.get(s["name"], (0, 0.0))
        out[s["name"]] = (n + 1, total + (s["end_ns"] - s["start_ns"] - covered) / 1e9)
    return out
