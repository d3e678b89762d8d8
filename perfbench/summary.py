"""Summary math shared by the benchmark runner and its spread check."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs, pct=90.0, min_beyond=10):
    """The `pct` percentile of `xs`, or None unless at least `min_beyond`
    samples lie strictly beyond it."""
    if len(xs) < 2:
        return None
    cut = statistics.quantiles(xs, n=100, method="inclusive")[int(pct) - 1]
    return cut if sum(1 for x in xs if x > cut) >= min_beyond else None


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def failed_frac(attempted, failed):
    return failed / attempted if attempted else 1.0
