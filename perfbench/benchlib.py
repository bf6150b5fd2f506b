"""Pure helpers of the benchmark: statistics, digests and result emission.
Kept free of I/O so `test_benchlib.py` can pin them."""

import hashlib
import json
import math


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def nearest_rank(xs, p):
    """The p-th percentile (0 < p <= 100) by the nearest-rank rule."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


TAIL_LADDER = (99.9, 99, 95, 90, 75, 50)


def tail_percentile(xs, min_beyond=10):
    """The highest percentile of the ladder that has at least `min_beyond`
    samples ranked beyond it, as (percentile, value, samples); None when
    even the median has fewer. A tail estimated from fewer samples than
    that does not repeat from run to run."""
    n = len(xs)
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100 * n) >= min_beyond:
            return p, nearest_rank(xs, p), n
    return None


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def digest(pairs):
    """Order-insensitive digest of (key, content hash) pairs."""
    h = hashlib.sha256()
    for k, v in sorted((str(k), str(v)) for k, v in pairs):
        h.update(f"{k}\t{v}\n".encode())
    return h.hexdigest()


def metric(value, unit):
    return {"value": float(value), "unit": unit}


def result_line(correct, attempted, failed, metrics, declared):
    """The benchmark's last stdout line. `declared` maps every metric name
    the run must report to its unit; a missing, extra or mis-unit metric
    is a bug in the benchmark and raises."""
    if set(metrics) != set(declared):
        raise ValueError(f"metrics {sorted(metrics)} != declared {sorted(declared)}")
    for k, m in metrics.items():
        if m["unit"] != declared[k]:
            raise ValueError(f"{k}: unit {m['unit']} != {declared[k]}")
        if not math.isfinite(m["value"]):
            raise ValueError(f"{k}: value {m['value']} is not finite")
    if not (isinstance(attempted, int) and isinstance(failed, int) and attempted >= 1):
        raise ValueError("attempted must be a whole number >= 1, failed a whole number")
    return json.dumps({"correct": bool(correct), "attempted": attempted,
                       "failed": failed, "metrics": metrics})
