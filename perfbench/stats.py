"""Statistics helpers of the benchmark: the percentile rule, span self time
and open-loop lateness. Pure functions over plain lists and dicts."""
import math
import statistics

LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        return None
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def median(values):
    return statistics.median(values) if values else None


def tail_percentile(values, min_beyond=10):
    """The highest percentile on the ladder with at least `min_beyond`
    samples strictly beyond it, as (p, value); (None, None) when even the
    median has fewer than `min_beyond` samples above it."""
    n = len(values)
    for p in LADDER:
        if n - math.ceil(p / 100.0 * n) >= min_beyond:
            return p, percentile(values, p)
    return None, None


def summary(values, unit):
    """A timing as the rule reports it: median, the highest percentile with
    ten samples beyond it, and the sample count."""
    p, v = tail_percentile(values)
    return {"median": median(values), "tail_p": p, "tail": v, "n": len(values), "unit": unit}


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], clipped to
    [lo, hi] when given. Overlaps count once."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            segs.append((s, e))
    segs.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in segs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children (spans naming it as parent). Keyed by id."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def layer_self_times(spans, layer_of):
    """Summed self time per layer; `layer_of(span)` names a span's layer."""
    st = self_times(spans)
    out = {}
    for s in spans:
        layer = layer_of(s)
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out


def attach(children, parents, slack=2.0):
    """Give each child (a Spark job observed by a listener) the innermost
    parent span whose interval contains the child's start; `slack` ms
    absorbs the listener's millisecond clock. Returns the children with
    `parent` set (0 when no span contains them)."""
    out = []
    for c in children:
        best = None
        for p in parents:
            if p["start"] - slack <= c["start"] <= p["end"] + slack:
                if best is None or (p["end"] - p["start"]) < (best["end"] - best["start"]):
                    best = p
        out.append(dict(c, parent=best["id"] if best else 0))
    return out


def lateness_ms(files):
    """How late the open-loop generator ran: landed minus due, per file."""
    return [f["landed"] - f["due"] for f in files]


def first_covering(snapshots, file_idx):
    """The first snapshot (by commit time) whose last applied file covers
    `file_idx`, or None."""
    for s in sorted(snapshots, key=lambda s: s["commit"]):
        if s["last_file"] >= file_idx:
            return s
    return None
