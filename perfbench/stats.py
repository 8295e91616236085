"""Small statistics helpers shared by the benchmark and its tools."""
import math
import statistics

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0)


def percentile(values, q):
    """The q-th percentile (0..100) with linear interpolation between
    closest ranks, as numpy's default does."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest percentile of the ladder that leaves at least ten of
    n samples beyond it, or None when n is too small for any."""
    for q in TAIL_LADDER:
        if n * (100.0 - q) / 100.0 >= 10:
            return q
    return None


def summary(values):
    """Median, the highest percentile with >= 10 samples beyond it, and
    the sample count."""
    q = tail_percentile(len(values))
    return {"n": len(values),
            "p50": percentile(values, 50) if values else None,
            "tail_q": q,
            "tail": percentile(values, q) if q is not None else None}


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    return tuple(statistics.quantiles(values, n=4))


def spread(values):
    """Inter-quartile distance as a share of the median: the run-to-run
    spread the acceptance rule bounds."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _covered(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per span id: its duration minus the part of its interval that its
    child spans cover. `spans` are dicts with id, start, end, parent."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - _covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}
