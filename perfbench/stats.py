"""Pure helpers of the benchmark runner: percentiles, open-loop latency
and span self time. No I/O; perfbench/test_stats.py covers them."""
import bisect
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for aa in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_median(values):
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics with Beta((n+1)/2, (n+1)/2) weights. On small samples of
    unlike items (entry latencies) it does not jump from one item to the
    next when two of them swap ranks, as the sample median does."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0
    a = (n + 1) / 2.0
    cdf = [betainc(a, a, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def tail(values, q=0.9, min_beyond=10, groups=None):
    """The q-quantile of `values`, or, when fewer than `min_beyond`
    samples (or distinct `groups`, e.g. the micro-batches that produced
    them) lie strictly above it, the highest quantile below q that has
    `min_beyond` beyond it. Returns (value, level); level None means no
    quantile has enough samples beyond it and the value is the median."""
    if not values:
        return 0.0, None
    order = sorted(range(len(values)), key=lambda i: values[i])
    s = [values[i] for i in order]
    g = [groups[i] for i in order] if groups is not None else list(range(len(s)))
    n = len(s)
    # distinct groups strictly above each position, scanning from the top
    above, seen = [0] * n, set()
    i = n - 1
    while i >= 0:
        j = i
        while j > 0 and s[j - 1] == s[i]:
            j -= 1
        for k in range(j, i + 1):
            above[k] = len(seen)
        seen.update(g[j:i + 1])
        i = j - 1
    start = max(0, math.ceil(q * n) - 1)
    for idx in range(start, -1, -1):
        if above[idx] >= min_beyond:
            return s[idx], (idx + 1) / n
    return median(values), None


def event_latencies(calls, due_ms, batches):
    """Open-loop latency of every record: from its due time to the end of
    the first micro-batch whose end offset covers the addData call that
    carried it. `calls` are dicts with offset, first_seq and count;
    `due_ms(seq)` gives a record's due time; `batches` are dicts with
    end_offset and end_ms. Returns (latency_ms, batch_index) pairs; a
    record no batch covered is left out."""
    done = sorted((b["end_ms"], b["end_offset"]) for b in batches if b["end_offset"] is not None)
    # the earliest commit that covers each offset: a running minimum from the right
    by_offset = sorted(done, key=lambda x: (x[1], x[0]))
    offsets = [o for _, o in by_offset]
    earliest = [0.0] * len(by_offset)
    best = math.inf
    for i in range(len(by_offset) - 1, -1, -1):
        best = min(best, by_offset[i][0])
        earliest[i] = best
    out = []
    for c in calls:
        i = bisect.bisect_left(offsets, c["offset"])
        if i == len(offsets):
            continue
        end = earliest[i]
        for seq in range(c["first_seq"], c["first_seq"] + c["count"]):
            out.append((end - due_ms(seq), i))
    return out


def self_times(spans):
    """Self time per layer, in ms: each span's duration minus the part of
    it that its children's intervals cover."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    per_layer = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        cover, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted((max(lo, k["start_ms"]), min(hi, k["end_ms"]))
                           for k in kids.get(s["id"], [])):
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    cover += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            cover += cur_hi - cur_lo
        per_layer[s["layer"]] = per_layer.get(s["layer"], 0.0) + max(0.0, hi - lo - cover)
    return per_layer
