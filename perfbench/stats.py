"""The benchmark's arithmetic: percentiles, the well-sampled-tail rule,
geometric mean, spread, and the backlog-growth decision."""
import math

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, q):
    """Linear-interpolated percentile `q` (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = (len(xs) - 1) * q / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_percentile(n, min_beyond=10, ladder=TAIL_LADDER):
    """The highest percentile of `ladder` that has at least `min_beyond`
    of `n` samples beyond it, or None when not even the median has."""
    best = None
    for q in ladder:
        if n * (100.0 - q) / 100.0 >= min_beyond - 1e-9:  # 100 - 99.9 is not exact
            best = q
    return best


def geomean(values):
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(values):
    return percentile(values, 50.0)


def spread(values):
    """Inter-quartile distance as a share of the median, quartiles as
    `statistics.quantiles(values, n=4)` gives them."""
    import statistics
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def slope(points):
    """Least-squares slope of (x, y) points; 0 for fewer than two."""
    if len(points) < 2:
        return 0.0
    n = len(points)
    mx = sum(p[0] for p in points) / n
    my = sum(p[1] for p in points) / n
    sxx = sum((p[0] - mx) ** 2 for p in points)
    if sxx == 0:
        return 0.0
    return sum((p[0] - mx) * (p[1] - my) for p in points) / sxx


def backlog_grows(samples, rate, share=0.10):
    """Whether a backlog grows during one rate step.

    `samples` are (time ms, backlog records) pairs from the step's
    micro-batch ends; `rate` is the offered records/s. The backlog grows
    when its least-squares slope exceeds `share` of the offered rate, that
    is when more than that share of the input piles up instead of being
    processed. With fewer than two batch ends in the step the growth is
    unknown (None): a step shorter than two micro-batches cannot show it."""
    if len(samples) < 2:
        return None
    per_s = slope([(t / 1000.0, b) for t, b in samples])
    return per_s > share * rate
