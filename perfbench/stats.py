"""Pure helpers behind the benchmark's metrics; `tests/` covers them."""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# the tail percentile is reported only where it lies in the upper
# quarter: at least 40 samples, so p75 or above
MIN_TAIL_SAMPLES = 40


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def tail(samples):
    """The highest nearest-rank percentile with at least ten samples
    beyond it, as (percentile, value, n); None below MIN_TAIL_SAMPLES.

    With n sorted samples the value of rank r has n - r samples above
    it, so the highest rank with ten beyond is n - 10, the percentile
    100 * (n - 10) / n."""
    n = len(samples)
    if n < max(11, MIN_TAIL_SAMPLES):
        return None
    rank = n - 10
    return 100.0 * rank / n, sorted(samples)[rank - 1], n


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Self time per span name: each span's duration minus the part of
    its interval that its direct children cover (clipped to it).

    `spans` are dicts with id, parent, name, start_ns and end_ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = union_length(
            (max(lo, c["start_ns"]), min(hi, c["end_ns"]))
            for c in children.get(s["id"], [])
            if c["end_ns"] > lo and c["start_ns"] < hi)
        out[s["name"]] = out.get(s["name"], 0) + (hi - lo) - covered
    return out
