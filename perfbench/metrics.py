"""Metric math for the benchmark: medians, the tail rule, interval unions,
span self time and amplification ratios.

Every reported number is computed here from raw samples, and each function
is covered by ``test_metrics.py``.
"""

import statistics

# A tail percentile is reported only where at least this many samples lie
# beyond it.
TAIL_BEYOND = 10


def median(xs):
    """Median of a non-empty sample."""
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail(xs):
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    Returns ``(value, percentile, n)``: the sample that has exactly ten
    samples above it in sorted order, the share of samples at or below it
    in percent, and the sample count. ``None`` when there are too few
    samples for any such percentile.
    """
    n = len(xs)
    if n < TAIL_BEYOND + 1:
        return None
    k = n - TAIL_BEYOND - 1
    return sorted(xs)[k], 100.0 * (k + 1) / n, n


def union_length(intervals):
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    end = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if end is None or s >= end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def clip(intervals, lo, hi):
    """Intervals cut to the window ``[lo, hi]``; empty pieces dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Self time per span name, summed.

    ``spans`` are ``(id, op, name, parent, start, end)``. A span's self time
    is its duration minus the part of its interval covered by its direct
    children.
    """
    children = {}
    for s in spans:
        children.setdefault(s[3], []).append((s[4], s[5]))
    out = {}
    for sid, _op, name, _parent, start, end in spans:
        covered = union_length(clip(children.get(sid, []), start, end))
        out[name] = out.get(name, 0.0) + (end - start) - covered
    return out


def median_rate(ops):
    """Ops that passed per second, with each op timed at the median latency
    of its name over the run.

    ``ops`` are ``(name, latency_s, ok)``. A stall that hits one run of an op
    moves that op's median little, where it would move the loop's wall time
    in full.
    """
    lat = {}
    for name, s, _ok in ops:
        lat.setdefault(name, []).append(s)
    med = {name: median(xs) for name, xs in lat.items()}
    return sum(1 for _n, _s, ok in ops if ok) / sum(med[name] for name, _s, _ok in ops)


def ratio(num, den):
    """``num / den``, or ``None`` when the base is not positive."""
    return num / den if den > 0 else None


def write_amp(gained_bytes, user_bytes):
    """Bytes the table directory gained across writes per user byte submitted."""
    return ratio(gained_bytes, user_bytes)


def space_amp(disk_bytes, snapshot_bytes):
    """Bytes on disk under the table per byte of the live snapshot."""
    return ratio(disk_bytes, snapshot_bytes)

