"""Metric rules the benchmark reports: percentiles, span self time and
core idleness. Pure functions over numbers, so they can be tested
without Spark.
"""
import math
import statistics

MB = 1024.0 * 1024.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least a
    share `p` of the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def median(xs):
    return statistics.median(xs)


def pass_percentile(passes, p):
    """The `p` percentile of each pass's latencies, median over the
    passes. Pooled over all passes instead, the executions of one slow
    pass crowd the ranks around p50 and shift it."""
    return median([percentile(xs, p) for xs in passes])


def merged(intervals):
    """Union of (start, end) intervals as sorted, disjoint intervals."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def covered(span, intervals):
    """Length of `span` covered by the union of `intervals`."""
    a, b = span
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in merged(intervals))


def self_time(span, children):
    """A span's duration minus the part its child spans cover."""
    return (span[1] - span[0]) - covered(span, children)


def idle_frac(busy, cores, wall):
    """Share of the core-time in `wall` during which no task ran, given
    the summed task run time `busy` on `cores` cores."""
    if wall <= 0 or cores <= 0:
        raise ValueError("idle_frac needs positive wall time and cores")
    return min(1.0, max(0.0, 1.0 - busy / (cores * wall)))

