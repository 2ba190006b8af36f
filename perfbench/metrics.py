"""Arithmetic of the benchmark: percentiles, the tail rule, quartile
spread, span self time, and the per-layer report built from a traced
run's spans."""
import math
import statistics

# The tail is the highest percentile that still has this many samples beyond it.
TAIL_BEYOND = 10


def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values):
    """(value, percentile, n): the highest percentile with at least
    TAIL_BEYOND samples beyond it, n(1 - p/100) >= TAIL_BEYOND, never
    below the median (a run with fewer than 2 * TAIL_BEYOND samples
    reports its median as the tail)."""
    n = len(values)
    p = max(50.0, 100.0 * (1.0 - TAIL_BEYOND / n))
    return percentile(values, p), p, n


def median(values):
    return statistics.median(values)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def spread(values):
    """Quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def covered(intervals):
    """Total length of the union of (t0, t1) intervals."""
    total, end = 0.0, -math.inf
    for t0, t1 in sorted(intervals):
        if t1 <= end:
            continue
        total += t1 - max(t0, end)
        end = t1
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    t0, t1 = span["t0"], span["t1"]
    clipped = [(max(t0, c["t0"]), min(t1, c["t1"])) for c in children]
    return (t1 - t0) - covered([c for c in clipped if c[1] > c[0]])


def attach(spans):
    """Give listener-built spans (parent -1) a parent: a job goes to the
    op whose job group it carries, else to the innermost harness span
    that contains its start; a stage goes to the job that contains it; a
    trigger to the innermost harness span containing it. Returns the
    spans by id with a 'children' list each."""
    by_id = {s["id"]: dict(s, children=[]) for s in spans}
    harness = [s for s in by_id.values()
               if not s["name"].startswith(("spark.", "stream."))]
    ops = {s["attrs"].get("op"): s for s in harness if s["name"] == "op"}

    def innermost(t, pool):
        best = None
        for s in pool:
            if s["t0"] <= t <= s["t1"] and (best is None or s["t1"] - s["t0"] < best["t1"] - best["t0"]):
                best = s
        return best

    for s in by_id.values():
        if s["parent"] != -1 or s["name"] in ("spark.sql", "ingest.state"):
            continue
        parent = None
        if s["name"] == "spark.job":
            group = s["attrs"].get("group", "")
            op = ops.get(int(group.rsplit("-", 1)[1])) if group.startswith("perfbench-op-") else None
            inner = innermost(s["t0"], harness)
            parent = inner if op is not None and inner is not None and \
                op["t0"] <= inner["t0"] and inner["t1"] <= op["t1"] else (op or inner)
        elif s["name"] == "spark.stage":
            parent = innermost(s["t0"], [j for j in by_id.values() if j["name"] == "spark.job"])
        elif s["name"] == "stream.trigger":
            parent = innermost(s["t0"], harness)
        if parent is not None:
            s["parent"] = parent["id"]
    for s in by_id.values():
        if s["parent"] in by_id:
            by_id[s["parent"]]["children"].append(s)
    return by_id


def self_times(by_id):
    """Self time (ms) summed per span name."""
    out = {}
    for s in by_id.values():
        if s["t1"] > s["t0"]:
            out[s["name"]] = out.get(s["name"], 0.0) + self_time(s, s["children"])
    return out
