"""Summary statistics used for every reported timing."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(Q1, Q2, Q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def iqr_share(xs):
    """Distance between the first and third quartile over the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def percentile(xs, p):
    """The p-th percentile (linear interpolation between closest ranks) and
    the number of samples above it, so a caller can see whether the tail
    is backed by enough samples."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0], 0
    pos = (len(s) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    value = s[lo] + (s[hi] - s[lo]) * (pos - lo)
    return value, sum(1 for x in s if x > value)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
