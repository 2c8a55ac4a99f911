"""Estimators that turn one run's per-operation samples into metrics."""
import math
import statistics

# Candidate levels for the high percentile, coarse on purpose: the level
# must not move when a run fits one pass more or less. 90 is the floor.
LEVELS = (99.9, 99.0, 95.0, 90.0)
BEYOND = 10


def wall_s(samples):
    """One pass of the operation list: the sum over operations of each
    operation's median latency (ms in, seconds out). A host burst moves
    it only by hitting the same operation in most of its repetitions."""
    by_op = {}
    for op, ms in samples:
        by_op.setdefault(op, []).append(ms)
    return sum(statistics.median(v) for v in by_op.values()) / 1000.0


def high_percentile(values):
    """(level, value, beyond): the nearest-rank value at the highest level
    in LEVELS that has at least BEYOND samples above it, and the number of
    samples above it. With fewer than 100 samples no level has BEYOND
    above; the level is then 90, with fewer samples beyond."""
    xs = sorted(values)
    n = len(xs)
    for level in LEVELS:
        rank = max(1, math.ceil(round(level * n / 100.0, 6)))
        if n - rank >= BEYOND or level == LEVELS[-1]:
            return level, xs[rank - 1], n - rank


def spread(values):
    """(median, q1, q3, (q3 - q1) / median), quartiles by
    `statistics.quantiles(values, n=4)`."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
