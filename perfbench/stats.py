"""Statistics and the result emitter of the benchmark (no third-party imports)."""
import json
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def median(values):
    """Median of a non-empty sequence; the mean of the middle two when even."""
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(values, q):
    """(value, sample count): the q-th percentile (0..100) by linear
    interpolation between the closest ranks, as numpy's default does."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    pos = (len(s) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo), len(s)


def covered(intervals, start, end):
    """Length of [start, end] covered by the union of the given intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children's spans cover.
    Spans are (start, end) pairs."""
    start, end = span
    return (end - start) - covered(children, start, end)


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line. `metrics` maps a name to
    (value, unit); names, units and values are checked before printing."""
    out = {}
    for name, (value, unit) in metrics.items():
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT_RE.match(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        if isinstance(value, bool) or not isinstance(value, (int, float)) \
                or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
        out[name] = {"value": value, "unit": unit}
    if not isinstance(attempted, int) or attempted < 1:
        raise ValueError(f"attempted must be a whole number >= 1, got {attempted!r}")
    if not isinstance(failed, int) or not 0 <= failed:
        raise ValueError(f"failed must be a whole number >= 0, got {failed!r}")
    return json.dumps({"correct": bool(correct), "attempted": attempted,
                       "failed": failed, "metrics": out})
