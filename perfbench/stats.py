"""The benchmark's arithmetic, kept free of I/O so test_stats.py can pin it."""
import math
import statistics

FAILED = math.inf           # a failed item: slower than every latency limit
LADDER = (50, 75, 90, 95, 99)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of a non-empty list (inf sorts last)."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


def tail(values, cap=LADDER[-1]):
    """The highest ladder percentile, at most `cap`, with at least
    MIN_BEYOND samples beyond it: (value, percentile, n). Failed items
    are FAILED and rank beyond every success. With fewer than
    2 × MIN_BEYOND samples no percentile qualifies and the median is
    returned with its percentile (50) so the caller can see it."""
    n = len(values)
    best = LADDER[0]
    for p in LADDER:
        if p <= cap and n * (100 - p) / 100 >= MIN_BEYOND:
            best = p
    return percentile(values, best), best, n


def union_s(spans):
    """Total length of the union of (start, end) spans."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(sp for sp in spans if sp[1] > sp[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's length minus the part of it its children cover; children
    that overlap each other are counted once, and only inside `span`."""
    s0, e0 = span
    clipped = [(max(s, s0), min(e, e0)) for s, e in children]
    return (e0 - s0) - union_s(clipped)


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    """Geometric mean of positive values; FAILED if any item failed."""
    if any(v == FAILED for v in values):
        return FAILED
    return math.exp(sum(math.log(v) for v in values) / len(values))
