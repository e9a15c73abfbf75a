"""Order statistics shared by the workloads and the steadiness report."""
import statistics


def pct(values, q):
    """The q-th percentile by linear interpolation between closest ranks
    (numpy's default); 0.0 for no values."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def spread(values):
    """(median, interquartile distance as a share of the median), with the
    quartiles `statistics.quantiles(values, n=4)` gives."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")
