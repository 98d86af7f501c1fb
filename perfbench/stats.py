"""Summary statistics used by the benchmark."""
import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, q, min_beyond=10):
    """Nearest-rank q-quantile, or None unless at least `min_beyond`
    samples lie beyond it: a tail figure needs a tail to stand on."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        return None
    return s[rank - 1]
