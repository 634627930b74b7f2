"""Statistics of the benchmark's raw samples: quartiles, the tail
percentile rule, the geometric mean and span self time."""
import math
import statistics


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them; a single
    sample is its own quartiles."""
    xs = list(xs)
    if not xs:
        raise ValueError("no samples")
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def median(xs):
    return statistics.median(list(xs))


def highest_percentile(n, beyond=10):
    """The highest whole percentile p for which at least `beyond` of `n`
    samples lie above the p-th nearest-rank percentile; None if even
    p = 1 leaves fewer than `beyond` samples above it."""
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    return p if p >= 1 else None


def percentile(xs, p):
    """Nearest-rank p-th percentile (the smallest sample with at least
    p% of the samples at or below it)."""
    s = sorted(xs)
    rank = max(1, math.ceil(p * len(s) / 100))
    return s[rank - 1]


def tail_percentile(xs, want, beyond=10):
    """The `want`-th percentile if at least `beyond` samples lie above
    it, else None: (value or None, highest percentile the samples
    resolve)."""
    top = highest_percentile(len(xs), beyond)
    if top is None or top < want:
        return None, top
    return percentile(xs, want), top


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def self_times(spans):
    """Self time of each span: its duration minus the time its direct
    children cover. Children may overlap one another; covered time is
    the union of their intervals clipped to the parent. Returns
    {span_id: self_ns}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        iv = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                    for c in kids.get(s["span_id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in iv:
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
        out[s["span_id"]] = (hi - lo) - covered
    return out


def subtree(spans, root_id):
    """Ids of `root_id` and all its descendants."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["span_id"])
    ids, todo = set(), [root_id]
    while todo:
        i = todo.pop()
        ids.add(i)
        todo.extend(kids.get(i, []))
    return ids
