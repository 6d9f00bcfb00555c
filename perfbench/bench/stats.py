"""Pure statistics over one run's raw records: percentiles, the tail rule
and span self time."""

TAIL_BEYOND = 10


def quantile(values, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """The highest sample with at least TAIL_BEYOND samples above it, never
    below the median. Returns (value, percentile, samples beyond, n): the
    percentile is the share of samples at or below the value."""
    xs = sorted(values)
    n = len(xs)
    med = quantile(xs, 0.5)
    k = n - 1 - TAIL_BEYOND
    if k < 0 or xs[k] <= med:
        return med, 50.0, sum(1 for x in xs if x > med), n
    return xs[k], 100.0 * (k + 1) / n, n - 1 - k, n


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children, with overlapping children counted once.
    `spans` are dicts with id, parent, start_ms, end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(lo, c["start_ms"]), min(hi, c["end_ms"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out

