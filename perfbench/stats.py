"""The benchmark's arithmetic: percentiles, the tail rule and per-layer
self time. Pure functions, tested in tests/test_stats.py."""
import math

TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, q):
    """The q-th percentile (0-100) with linear interpolation between
    the closest ranks."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    rank = (len(xs) - 1) * q / 100.0
    lo = math.floor(rank)
    hi = math.ceil(rank)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def median(values):
    return percentile(values, 50.0)


def tail_level(n):
    """The highest of TAIL_LEVELS with at least 10 of n samples beyond
    it, or None when n is too small for any."""
    for level in TAIL_LEVELS:
        if round(n * (100.0 - level) / 100.0, 9) >= 10.0:
            return level
    return None


def summary(values):
    """Median plus the rule's tail percentile, with n."""
    out = {"n": len(values)}
    if values:
        out["p50"] = median(values)
        level = tail_level(len(values))
        if level is not None:
            out["p%g" % level] = percentile(values, level)
    return out


def self_times(spans):
    """Self time per layer: each span's duration minus that of its
    direct children, summed by the span's layer. Spans are dicts with
    id, parent (0 for none), layer, start_ns and end_ns. Returns
    seconds per layer."""
    child_ns = {}
    for s in spans:
        if s["parent"]:
            child_ns[s["parent"]] = child_ns.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        own = s["end_ns"] - s["start_ns"] - child_ns.get(s["id"], 0)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own / 1e9
    return out

