"""Statistics helpers of the benchmark, kept free of I/O so they can be
tested on their own (perfbench/tests)."""
#: The tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def median(values):
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def nearest_rank(sorted_values, percentile):
    """0-based index of the nearest-rank `percentile` (0 < p <= 100)."""
    n = len(sorted_values)
    return max(0, -(-percentile * n // 100) - 1)


def tail(values, beyond=TAIL_BEYOND):
    """The highest whole percentile whose nearest-rank sample still has at
    least `beyond` samples above it in rank: (value, percentile, n).

    Raises ValueError when no rank above the median's leaves `beyond`
    samples beyond it, so a tail can never quietly collapse onto the
    median.
    """
    s = sorted(values)
    n = len(s)
    above = nearest_rank(s, 50)
    for p in range(99, 50, -1):
        r = nearest_rank(s, p)
        if n - 1 - r >= beyond and r > above:
            return s[r], p, n
    raise ValueError(f"{n} samples cannot carry a tail above the median "
                     f"with {beyond} beyond it")


def spread(values):
    """Interquartile distance as a share of the median, with the
    quartiles Python's statistics.quantiles(values, n=4) gives."""
    import statistics
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)
