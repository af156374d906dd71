"""Pure arithmetic behind the benchmark's figures: percentiles, span self
time, error counting and the per-layer summary of a traced run."""
import statistics

# Percentiles the tail rule may choose from, highest last.
TAIL_PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def percentile(values, p):
    """The `p`-th percentile by linear interpolation between order
    statistics (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values):
    """The highest percentile in TAIL_PERCENTILES that has at least ten
    samples beyond it, as (p, value); None when there are too few samples
    for even the median to qualify."""
    n = len(values)
    best = None
    for p in TAIL_PERCENTILES:
        if round(n * (100 - p) / 100.0, 6) >= 10:  # 99.9 is inexact
            best = p
    if best is None:
        return None
    return best, percentile(values, best)


def covered(interval, others):
    """Length of the part of `interval` (start, end) that the union of the
    `others` intervals covers; overlaps are counted once."""
    s0, e0 = interval
    clipped = sorted((max(s, s0), min(e, e0)) for s, e in others
                     if min(e, e0) > max(s, s0))
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
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
    """Self time of every span: its duration minus the part of it its
    child spans cover. `spans` are dicts with id, parent, start_us, end_us;
    returns {id: self microseconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(
            (s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"]) -
            covered((s["start_us"], s["end_us"]), children.get(s["id"], []))
            for s in spans}


def count_failures(passes, incorrect_ops, extra_errors=0):
    """(attempted, failed) over the timed operations of `passes`. An
    operation fails when it threw, or when its name is in
    `incorrect_ops` (its output did not match the reference). Untimed
    calls that threw (`extra_errors`) count as attempted and failed."""
    attempted = failed = 0
    for p in passes:
        for op in p["ops"]:
            attempted += 1
            if op.get("error") or op["name"] in incorrect_ops:
                failed += 1
    return attempted + extra_errors, failed + extra_errors


def end_to_end(result, gen_s):
    """The end-to-end metrics of an untraced run (see README.md)."""
    passes = [p for p in result["passes"] if not p["traced"]]
    op_s = [op["sec"] for p in passes for op in p["ops"]]
    return {
        "setup_s": gen_s + result["session_s"] + result["warmup_s"],
        "op_p50_s": statistics.median(op_s),
        "pass_wall_s": statistics.median(p["wall_s"] for p in passes),
    }


def per_layer(result, spans, names):
    """Median over the traced passes of every per-layer value, for every
    name in `names` (0 for a layer the workload does not call), plus the
    driver-side self time of the calls and the tracing overhead: traced
    pass walls against the run's untraced ones."""
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p["wall_s"] for p in result["passes"] if not p["traced"]]
    selfs = self_times(spans)
    pass_ids = {s["id"] for s in spans if s["parent"] == 0}
    self_by_pass = {}
    for s in spans:
        if s["parent"] in pass_ids:
            self_by_pass[s["parent"]] = (self_by_pass.get(s["parent"], 0) +
                                         selfs[s["id"]])
    out = {}
    for name in names:
        vals = [p["layers"][name] for p in traced
                if p["layers"].get(name) is not None]
        out[name] = statistics.median(vals) if vals else 0.0
    if self_by_pass:
        out["driver.self_s"] = statistics.median(self_by_pass.values()) / 1e6
    out["trace.overhead_pct"] = 100.0 * (
        statistics.median(p["wall_s"] for p in traced) /
        statistics.median(untraced) - 1.0)
    return out
