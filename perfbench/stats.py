"""Statistics and answer checking for the benchmark's reports."""
import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, the "tail" is a handful of single observations.
MIN_BEYOND = 10


def nearest_rank(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share q
    of the samples at or below it (q in (0, 1])."""
    if not values:
        raise ValueError("no samples")
    if not 0 < q <= 1:
        raise ValueError(f"percentile {q} outside (0, 1]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q * len(ordered))) - 1]


def tail_percentile(values, q):
    """`nearest_rank(values, q)`, or None while fewer than MIN_BEYOND
    samples lie beyond its rank (p90 needs 100 samples, p99 1000)."""
    if not values:
        return None
    rank = max(1, math.ceil(q * len(values)))
    if len(values) - rank < MIN_BEYOND:
        return None
    return nearest_rank(values, q)


def geomean(values):
    """Geometric mean: every query weighs the same in relative terms, so a
    read set's short queries move it as much as its long ones."""
    if not values:
        raise ValueError("no samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def count_failures(ops, expected):
    """Attempted and failed operations. An operation fails when it threw or
    when it is a query whose answer digest differs from the expected one; a
    query with no expected digest fails too, so no answer goes unchecked.
    Returns (attempted, failed, [(name, reason), ...])."""
    failures = []
    for op in ops:
        if op.get("error"):
            failures.append((op["name"], op["error"]))
        elif op["kind"] == "query":
            want = expected.get(op["name"])
            if want is None:
                failures.append((op["name"], "no recorded digest"))
            elif op["digest"] != want:
                failures.append((op["name"], f"digest {op['digest'][:12]} != {want[:12]}"))
    return len(ops), len(failures), failures


def spread(values):
    """Interquartile range as a share of the median (the steadiness measure
    the benchmark is tuned against)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
