"""Latency percentiles and the per-layer split of a traced pass."""

import math
from collections import defaultdict

MIN_BEYOND = 10


def percentile(values, q):
    """The q-th percentile (0-100) by linear interpolation."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, q, min_beyond=MIN_BEYOND):
    """The q-th percentile, or None when fewer than `min_beyond` samples
    lie beyond it: a tail read from fewer samples is noise."""
    if not values:
        return None
    p = percentile(values, q)
    return p if sum(1 for v in values if v > p) >= min_beyond else None


def _covered(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_split(spans, phases):
    """Self time per (op, layer) in ms, from a traced pass.

    A layer's self time is the time of the spans the benchmark opened
    around calls into it, minus their child spans and the Catalyst phases
    that ran inside them: those count for the `catalyst` layer.
    spans: [id, parent, op, name, layer, t0_ms, t1_ms]
    phases: [name, start_ms, end_ms] Catalyst phases of every action.
    Returns ({op: {layer: ms}}, {span_id: span}).
    """
    by_id = {s[0]: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        children[s[1]].append(s)
    # each Catalyst phase goes to the innermost span that contains it
    phase_in = defaultdict(list)
    for name, start, end in phases:
        best = None
        for s in spans:
            if s[5] - 1 <= start and end <= s[6] + 1:
                if best is None or s[6] - s[5] < best[6] - best[5]:
                    best = s
        if best is not None:
            phase_in[best[0]].append((max(start, best[5]), min(end, best[6])))
    catalyst = {sid: _covered(iv) for sid, iv in phase_in.items()}
    split = defaultdict(lambda: defaultdict(float))
    for s in spans:
        dur = s[6] - s[5]
        kids = sum(c[6] - c[5] for c in children[s[0]])
        cat = min(catalyst.get(s[0], 0.0), max(dur - kids, 0.0))
        split[s[2]][s[4]] += dur - kids - cat
        split[s[2]]["catalyst"] += cat
    return split, by_id
