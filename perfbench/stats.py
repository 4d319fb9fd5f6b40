"""Arithmetic shared by the benchmark runner and the comparison tool:
percentiles, per-layer self time of a span tree, and failure counting.
"""
import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail(values, beyond=10):
    """The highest percentile that still has `beyond` samples above it:
    the (beyond+1)-th largest sample, with the percentile it stands for.
    With too few samples for that it is the slowest sample (p100)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 2 * beyond:
        return xs[-1], 100.0
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def self_times(op_start, op_end, spans, root_layer):
    """Charges every instant of one op to a layer.

    `spans` are (layer, start, end) children of the op, in any order, from
    any depth. A span's parent is the smallest other span (or the op) that
    contains it; spans that only partly overlap are siblings. At each
    instant the innermost active spans share the instant equally, and a
    span with no active child at that instant keeps it. The op's own
    layer is `root_layer`. The result maps layer to milliseconds and sums
    to the op's wall time.
    """
    clipped = []
    for layer, s, e in spans:
        s, e = max(s, op_start), min(e, op_end)
        if e > s:
            clipped.append((layer, s, e))
    # parent = smallest containing span; ties broken by order so equal
    # intervals nest instead of being each other's parent
    order = sorted(range(len(clipped)),
                   key=lambda i: (clipped[i][2] - clipped[i][1], i),
                   reverse=True)
    parent = {}
    for pos, i in enumerate(order):
        _, s, e = clipped[i]
        best = None
        for j in order[:pos]:
            _, ps, pe = clipped[j]
            if ps <= s and e <= pe:
                best = j  # later in `order` = smaller, so keep the last
        parent[i] = best
    cuts = sorted({op_start, op_end} |
                  {t for _, s, e in clipped for t in (s, e)})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        active = {i for i, (_, s, e) in enumerate(clipped) if s <= mid < e}
        has_child = {parent[i] for i in active if parent[i] is not None}
        leaves = [i for i in active if i not in has_child]
        if not leaves:
            out[root_layer] = out.get(root_layer, 0.0) + (b - a)
            continue
        share = (b - a) / len(leaves)
        for i in leaves:
            layer = clipped[i][0]
            out[layer] = out.get(layer, 0.0) + share
    return out


def count_failures(ops, extra_failures=0):
    """(attempted, failed): every op is attempted; an op fails when it
    raised or its output was wrong. `extra_failures` are wrong outputs
    found by checks that are not tied to one op. Failed never exceeds
    attempted."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o.get("ok", False)) + extra_failures
    return attempted, min(failed, attempted)
