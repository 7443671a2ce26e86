"""Arithmetic of the benchmark: percentiles, open-loop latency and span
self time. Pure functions over plain lists, so the tests in
test_metrics.py can check them on synthetic inputs.
"""
import math
import statistics

# Harness span kind -> layer its self time is charged to. Listener
# records become spans of kind phase (Catalyst), job and stage.
LAYER_OF_KIND = {
    "run": "bench", "pass": "bench", "wait": "bench", "generate": "bench",
    "query": "driver", "action": "driver", "batch": "driver",
    "construct": "queries", "stage_call": "streaming",
    "phase": "plans", "job": "scheduler", "stage": "functions",
}


def median(values):
    return statistics.median(values)


def percentile(values, p):
    """Nearest-rank p-th percentile of `values`."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(values, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    its nearest-rank position: (percentile, value, sample count), or None
    when even the median has fewer than `beyond` samples above it.
    """
    n = len(values)
    for p in range(99, 49, -1):
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            return p, percentile(values, p), n
    return None


def emit_latencies(due, done, interval, rows):
    """Event-to-emit latency of every event. Batch k's `rows` events are
    stamped evenly over (due[k] - interval, due[k]]; each is emitted when
    its batch is done.
    """
    out = []
    for d, e in zip(due, done):
        first = d - interval
        out.extend(e - (first + interval * (i + 0.5) / rows) for i in range(rows))
    return out


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of every span: its wall, clipped to its parent, minus the
    union of its children's clipped intervals. `spans` maps id ->
    dict(parent=id or None, start=, end=). When children overlap, the
    self times of a tree add up to more than its root's wall; only
    `layer_times` splits the wall without double counting.
    """
    clip = {}

    def clipped(i):
        if i not in clip:
            s = spans[i]
            p = s["parent"]
            lo, hi = s["start"], s["end"]
            if p is not None:
                plo, phi = clipped(p)
                lo, hi = max(lo, plo), min(hi, phi)
            clip[i] = (lo, max(lo, hi))
        return clip[i]

    children = {i: [] for i in spans}
    for i, s in spans.items():
        if s["parent"] is not None:
            children[s["parent"]].append(i)
    out = {}
    for i in spans:
        lo, hi = clipped(i)
        out[i] = (hi - lo) - union_length([clipped(c) for c in children[i]], lo, hi)
    return out


def layer_times(spans):
    """Splits the roots' walls across layers: each instant is charged to
    the innermost spans open at that instant, shared equally when several
    overlap (parallel jobs or stages). `spans` maps id -> dict(parent=,
    start=, end=, layer=); children are clipped to their parents. The
    result sums to the roots' walls.
    """
    clip = {}

    def clipped(i):
        if i not in clip:
            s = spans[i]
            lo, hi = s["start"], s["end"]
            if s["parent"] is not None:
                plo, phi = clipped(s["parent"])
                lo, hi = min(max(lo, plo), phi), max(min(hi, phi), plo)
            clip[i] = (lo, max(lo, hi))
        return clip[i]

    def depth(i):
        d = 0
        while spans[i]["parent"] is not None:
            i, d = spans[i]["parent"], d + 1
        return d

    events = []
    for i in spans:
        lo, hi = clipped(i)
        if hi > lo:
            d = depth(i)
            # at equal times: ends before starts, parents open first
            # and close last
            events.append((lo, 1, d, i))
            events.append((hi, 0, -d, i))
    events.sort(key=lambda e: e[:3])
    open_children = {}
    leaves = {}        # layer -> number of open spans with no open child
    out = {}
    last = None

    def leaf(i, delta):
        layer = spans[i]["layer"]
        leaves[layer] = leaves.get(layer, 0) + delta

    for t, is_start, _, i in events:
        n = sum(leaves.values())
        if last is not None and n and t > last:
            for layer, c in leaves.items():
                if c:
                    out[layer] = out.get(layer, 0.0) + (t - last) * c / n
        last = t
        p = spans[i]["parent"]
        if is_start:
            open_children[i] = 0
            leaf(i, +1)
            if p is not None and p in open_children:
                if open_children[p] == 0:
                    leaf(p, -1)
                open_children[p] += 1
        else:
            if open_children.pop(i) == 0:
                leaf(i, -1)
            if p is not None and p in open_children:
                open_children[p] -= 1
                if open_children[p] == 0:
                    leaf(p, +1)
    return out


def innermost_containing(candidates, t):
    """Id of the innermost candidate interval containing time t, or None.
    `candidates` is a list of (id, start, end)."""
    best = None
    for i, a, b in candidates:
        if a <= t < b and (best is None or a > best[1] or (a == best[1] and b < best[2])):
            best = (i, a, b)
    return None if best is None else best[0]
