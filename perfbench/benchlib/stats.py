"""Pure statistics used by the benchmark report: percentiles, the tail
rule, span self time and metric-name validation."""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

# samples a tail percentile must leave beyond it
TAIL_BEYOND = 10


def valid_name(name):
    """A metric or workload name: starts with a letter or digit, then up
    to 63 more letters, digits, '_', '.' or '-'."""
    return isinstance(name, str) and bool(NAME_RE.match(name))


def valid_unit(unit):
    return isinstance(unit, str) and bool(UNIT_RE.match(unit))


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no samples")
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(fixed_count, beyond=TAIL_BEYOND):
    """The highest whole percentile that still leaves at least `beyond`
    samples above it at `fixed_count` samples. Below 2*beyond samples no
    percentile above the median qualifies, and the median is used."""
    if fixed_count < 2 * beyond:
        return 50
    p = math.floor(100.0 * (fixed_count - beyond) / fixed_count)
    while p > 50 and fixed_count * (100 - p) / 100.0 < beyond:
        p -= 1
    return p


def failed_frac(attempted, failed):
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0
    end = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def resolve_parents(spans):
    """Give every span with parent -1 (engine spans reported by the
    listener) the innermost span of the same operation that contains it;
    0 when none does. Returns a new list of dicts."""
    out = [dict(s) for s in spans]
    by_op = {}
    for s in out:
        if s["parent"] != -1:
            by_op.setdefault(s["op"], []).append(s)
    for s in out:
        if s["parent"] != -1:
            continue
        best = None
        for c in by_op.get(s["op"], []):
            if c["start_us"] <= s["start_us"] and s["end_us"] <= c["end_us"]:
                if best is None or (c["end_us"] - c["start_us"]) < (best["end_us"] - best["start_us"]):
                    best = c
        s["parent"] = best["id"] if best else 0
    return out


def self_times(spans):
    """Self time per layer in microseconds: each span's duration minus
    the part of it covered by its children (overlapping children count
    once; a child reaching outside its parent is clipped)."""
    spans = resolve_parents(spans)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered = union_length(
            (max(lo, c["start_us"]), min(hi, c["end_us"])) for c in children.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0) + max(0, (hi - lo) - covered)
    return out
