"""Pure helpers of the benchmark: the percentile rule, span self time,
metric-name validation and the quartile spread used to judge steadiness."""
import math
import re
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def valid_metric_name(name):
    return bool(METRIC_NAME.fullmatch(name)) and len(name) <= 64 and name[0].isalnum()


def percentile(values, p):
    """Nearest-rank p-th percentile of `values` (0 < p <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def reportable(n, p, beyond=10):
    """A p-th percentile is reported only if at least `beyond` of the n
    samples lie beyond it: n * (1 - p/100) >= beyond."""
    return n * (100.0 - p) >= beyond * 100.0


def highest_percentile(n, ladder=(99, 95, 90, 75, 50), beyond=10):
    """The highest percentile of `ladder` with >= `beyond` samples beyond
    it, or None."""
    for p in sorted(ladder, reverse=True):
        if reportable(n, p, beyond):
            return p
    return None


def union_length(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is not None and s <= cur_e:
            cur_e = max(cur_e, e)
        else:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def self_times(spans):
    """{span id: self ms}: a span's duration minus the union of its
    children's intervals, clipped to the span."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: max(0.0, (s["end_ms"] - s["start_ms"]) -
                         union_length(kids.get(s["id"], []), s["start_ms"], s["end_ms"]))
            for s in spans}


def self_time_by_layer(spans):
    """{layer: self seconds} summed over spans."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]] / 1e3
    return out


def quartile_spread(values):
    """(Q3 - Q1) / median, with statistics.quantiles(n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
