"""The benchmark's own arithmetic: the tail-percentile rule, span self
times and failed-operation accounting. Pure functions, unit-tested in
test_stats.py."""

import math
import statistics

TAIL_BEYOND = 10


def tail(values, beyond=TAIL_BEYOND):
    """The highest whole percentile p with at least `beyond` samples above
    its nearest-rank value. Returns (value, p, samples_beyond).

    With n samples, p's nearest rank is k = ceil(p * n / 100) and n - k
    samples lie beyond it. Fewer than beyond + 1 samples leave no such p;
    then the maximum is returned with p = 100 and the true count beyond (0),
    so the caller can see that the rule did not apply.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for p in range(99, 0, -1):
        k = math.ceil(p * n / 100)
        if n - k >= beyond:
            return xs[k - 1], p, n - k
    return xs[-1], 100, 0


def self_times(spans):
    """Per-span self time: the span's duration minus the union of the
    intervals its direct children cover (clipped to the span), so
    overlapping children are not subtracted twice.

    `spans` is a list of dicts with id, parent, start_s, end_s.
    Returns {id: self_seconds}.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        ivs = sorted((max(lo, c["start_s"]), min(hi, c["end_s"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
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


def self_time_by_name(spans):
    """Sum of self times per span name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def account(ops, check_failures):
    """Failed-operation accounting. An operation fails when it raised
    (ok is False) or when its output check failed (its id is a key of
    `check_failures`). Returns (attempted, failed, ok_ops) where ok_ops are
    the operations that count as successful."""
    ok_ops = [o for o in ops if o["ok"] and o["op"] not in check_failures]
    return len(ops), len(ops) - len(ok_ops), ok_ops


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)
