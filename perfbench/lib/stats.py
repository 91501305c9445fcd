"""Statistics used to grade a run: percentiles, the tail rule, freshness
from streaming progress, and span self time. Pure functions, no I/O."""
import json
import math


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between closest
    ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values):
    return percentile(values, 50)


def tail_percentile(n, beyond=10):
    """The highest whole percentile that still has at least `beyond` samples
    above it among `n` samples, or None when n <= beyond. With n = 100
    that is p90; with n = 1000, p99."""
    if n <= beyond:
        return None
    return math.floor(100.0 * (n - beyond) / n)


def stall_ratio(calibration):
    """Max over median of a run's calibration samples (graft.Bench's rule):
    near 1 on a steady host; a host stall inflates a minority of the
    samples and so the max, not the median."""
    return max(calibration) / median(calibration)


def _offsets(node):
    """A streaming source offset as {partition: offset}; progress JSON
    carries it either as a JSON object or as its JSON text."""
    if node is None:
        return {}
    if isinstance(node, str):
        node = json.loads(node)
    return {int(k): int(v) for k, v in node.items()}


def freshness_ms(published, progress):
    """Per published segment: ms from its due time to the completion of the
    first sink batch whose end offset for its partition covers the
    segment's last record. `published` items carry partition, end_offset
    and due_ms; `progress` items are StreamingQueryProgress JSON with the
    sink's completion time added as `sink_done_ms`. Segments no batch
    covered get None."""
    batches = []
    for p in progress:
        done = p.get("sink_done_ms")
        if done is None or not p.get("sources"):
            continue
        batches.append((done, _offsets(p["sources"][0].get("endOffset"))))
    batches.sort(key=lambda b: b[0])
    out = []
    for seg in published:
        hit = next((done for done, ends in batches
                    if ends.get(seg["partition"], -1) >= seg["end_offset"]), None)
        out.append(None if hit is None else hit - seg["due_ms"])
    return out


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    covered by its children (clipped to the span). Returns {id: ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def values_match(got, exp, rel=1e-9, abs_=1e-9):
    if isinstance(got, (list, tuple)) and isinstance(exp, (list, tuple)):
        return len(got) == len(exp) and all(values_match(a, b, rel, abs_)
                                            for a, b in zip(got, exp))
    if isinstance(got, bool) or isinstance(exp, bool):
        return got == exp
    if isinstance(got, (int, float)) and isinstance(exp, (int, float)):
        if isinstance(got, float) and math.isnan(got):
            return isinstance(exp, float) and math.isnan(exp)
        return math.isclose(got, exp, rel_tol=rel, abs_tol=abs_)
    return got == exp


def _sort_key(row):
    return tuple((v is None, "" if v is None else
                  ("%.6e" % v if isinstance(v, float) else str(v))) for v in row)


def rows_match(got, exp):
    """Order-insensitive row-set equality with float tolerance."""
    if len(got) != len(exp):
        return False
    for g, e in zip(sorted(got, key=_sort_key), sorted(exp, key=_sort_key)):
        if len(g) != len(e) or not all(values_match(a, b) for a, b in zip(g, e)):
            return False
    return True


def rows_subset(got, exp):
    """Every row of `got` matches a distinct row of `exp` (float tolerance)."""
    pool = list(exp)
    for g in got:
        hit = next((i for i, e in enumerate(pool) if len(e) == len(g) and
                    all(values_match(a, b) for a, b in zip(g, e))), None)
        if hit is None:
            return False
        pool.pop(hit)
    return True
