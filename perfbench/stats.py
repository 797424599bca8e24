"""Statistics helpers of the benchmark (tested in test_stats.py)."""
import math


def median(xs):
    """Middle value; on an even count, the mean of the two middle ones."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def geomean(xs):
    """Geometric mean of positive samples."""
    if not xs:
        raise ValueError("geomean of no samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def percentile(xs, p):
    """Nearest-rank p-th percentile: (value, samples beyond it, n)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * n))
    return s[rank - 1], n - rank, n


def tail(xs, p, min_beyond=10):
    """The p-th percentile, only if at least `min_beyond` samples lie
    beyond it: (value, n). Raises ValueError otherwise."""
    v, beyond, n = percentile(xs, p)
    if beyond < min_beyond:
        raise ValueError("p%g of %d samples has %d beyond it (< %d)"
                         % (p, n, beyond, min_beyond))
    return v, n


def highest_percentile(xs, ladder=(99.9, 99, 95, 90, 75, 50), min_beyond=10):
    """The highest percentile on `ladder` with at least `min_beyond`
    samples beyond it: (p, value, n), or None when even the last fails."""
    for p in ladder:
        v, beyond, n = percentile(xs, p)
        if beyond >= min_beyond:
            return p, v, n
    return None


def quartiles(xs):
    """First, second and third quartile, as statistics.quantiles(xs, n=4)
    gives them (the 'exclusive' method)."""
    s = sorted(xs)
    n = len(s)
    if n < 2:
        raise ValueError("quartiles need at least two samples")
    out = []
    for i in (1, 2, 3):
        j = min(max(i * (n + 1) // 4, 1), n - 1)
        delta = i * (n + 1) - j * 4
        out.append((s[j - 1] * (4 - delta) + s[j] * delta) / 4)
    return out


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = quartiles(xs)
    m = median(xs)
    return (q3 - q1) / m if m else float("inf")
