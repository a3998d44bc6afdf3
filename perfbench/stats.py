"""Small statistics used by the benchmark: quantiles, the tail percentile,
geometric means and span self time."""
import math
import statistics

import numpy as np

TAIL_BEYOND = 10  # samples a reported tail percentile must have beyond it


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_percentile(n_min):
    """The highest percentile that still has `TAIL_BEYOND` samples beyond
    it when there are `n_min` samples; None when there are too few."""
    if n_min <= TAIL_BEYOND:
        return None
    return 100.0 * (n_min - TAIL_BEYOND) / n_min


def quantile(xs, p):
    """The Harrell-Davis estimate of the `p`-quantile (0 < p < 1) of `xs`:
    a weighted mean of all order statistics, with the weights a beta
    distribution centred on rank p(n+1) gives. A run pools invocations of a
    few queries with distinct costs; a single order statistic jumps from
    one query's times to the next when two of them swap ranks, this one
    moves smoothly."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    # beta(a, b) distribution function by the trapezoid rule on a fine grid
    t = np.linspace(0.0, 1.0, 20001)
    with np.errstate(divide="ignore"):
        log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(log_pdf - log_pdf[1:-1].max())
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(np.dot(w, x))


def tail(xs, n_min):
    """(percentile, value) of the tail of `xs`. The percentile is fixed by
    the fewest samples a run can take (`n_min`), so it is the same in
    every run and at least `TAIL_BEYOND` samples lie beyond it."""
    pct = tail_percentile(n_min)
    if pct is None or len(xs) < n_min:
        raise ValueError(f"need at least {max(n_min, TAIL_BEYOND + 1)} samples")
    return pct, quantile(xs, pct / 100.0)


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in intervals
                     if min(hi, b) > max(lo, a))
    total, end = 0.0, lo
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_time(lo, hi, children):
    """A span's duration minus the part of it its child spans cover."""
    return (hi - lo) - covered(lo, hi, children)
