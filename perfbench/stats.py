"""The benchmark's arithmetic: latency summaries, the tail rule, failure
fractions and the steadiness comparison of two sets of runs."""
import math
import statistics

TAIL_BEYOND = 10


def tail(values):
    """The highest percentile with at least TAIL_BEYOND samples beyond it:
    the value of nearest rank n - TAIL_BEYOND.

    Returns (value, percentile, samples_beyond). Up to 2 * TAIL_BEYOND
    samples that percentile would not lie above the median, so the
    median is returned as the 50th percentile, with the samples beyond
    it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 2 * TAIL_BEYOND:
        return statistics.median(xs), 50.0, n // 2
    rank = n - TAIL_BEYOND
    return xs[rank - 1], 100.0 * rank / n, TAIL_BEYOND


def median(values):
    return statistics.median(values) if values else 0.0


def geomean_of_medians(samples):
    """Geometric mean over operation names of each name's median; samples
    are (name, value) pairs. Workloads with a few samples of each of a
    few kinds report latency this way: each kind is weighted equally
    whatever its share of a timed phase, as TPC-H's power metric weighs
    its queries, and a median does not jump between kinds."""
    by = {}
    for name, v in samples:
        by.setdefault(name, []).append(v)
    if not by:
        return 0.0
    return math.exp(sum(math.log(max(median(v), 1e-9)) for v in by.values()) / len(by))


def fail_frac(ops):
    """Failed or wrong operations over attempted ones; ops are dicts
    with an `ok` flag."""
    return sum(1 for o in ops if not o["ok"]) / len(ops) if ops else 1.0


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(base, new, better):
    """How much worse `new` is than `base`, as a share of `base`
    (negative when it is better)."""
    if base == 0:
        return 0.0 if new == 0 else float("inf")
    d = (new - base) / base
    return d if better == "lower" else -d
