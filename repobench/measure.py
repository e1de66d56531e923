"""Measurement rules of the benchmark, kept free of I/O so the self-tests
in test_measure.py can pin them down."""
import statistics

import numpy as np

TAIL_CANDIDATES = (99, 95, 90, 75, 50)


def tail_percentile(n):
    """Highest candidate percentile that has at least 10 samples beyond it."""
    for p in TAIL_CANDIDATES:
        if n * (100 - p) / 100 >= 10:
            return p
    return 50


def pct(values, p):
    return float(np.percentile(np.asarray(values, dtype=float), p)) if len(values) else 0.0


def median(values):
    return statistics.median(values) if len(values) else 0.0


def geomean(values):
    return statistics.geometric_mean(values) if len(values) else 0.0


def offset_of(text):
    """Total rows before an offset of the syslog source ("12" or, with
    several lanes, "3,9")."""
    if not text:
        return 0
    return sum(int(x) for x in text.split(","))


def batches(progress):
    """Data-carrying micro-batches as (start offset, end offset, commit ms),
    in batch order. A batch commits at its trigger start plus the whole
    trigger's duration."""
    out = []
    for p in sorted(progress, key=lambda p: p["batch"]):
        start, end = offset_of(p["start_offset"]), offset_of(p["end_offset"])
        if end > start:
            out.append((start, end, p["start_ms"] + p["duration_ms"]["triggerExecution"]))
    return out


def commit_times(bs, first, n):
    """Commit time of each of the n rows at offsets first .. first+n-1.

    Raises if a row is in no batch or in two."""
    out = np.full(n, np.nan)
    covered = np.zeros(n, dtype=np.int64)
    for start, end, commit in bs:
        lo, hi = max(start - first, 0), min(end - first, n)
        if lo < hi:
            out[lo:hi] = commit
            covered[lo:hi] += 1
    if n and (covered.min() != 1 or covered.max() != 1):
        raise ValueError("offset ranges do not cover every measured row exactly once")
    return out


def service_rate(bs):
    """Rows per second of the batches between the first and the last
    commit, leaving out the first batch (it started before the load) and
    the last (it may be partial). Each batch of a saturated stream starts
    when the one before commits, so this is the rate the pipeline sustains."""
    if len(bs) < 4:
        raise ValueError(f"{len(bs)} batches are too few for a service rate")
    inner = bs[1:-1]
    return sum(end - start for start, end, _ in inner) / (inner[-1][2] - bs[0][2]) * 1000.0


def backlog(bs, first, sent_at):
    """(commit ms, rows sent but not yet committed) at each batch commit;
    sent_at(t) gives the rows sent by time t."""
    return [(c, sent_at(c) - (end - first)) for _, end, c in bs if end > first]


def slope_per_s(points):
    """Least-squares slope of (ms, value) points, per second."""
    if len(points) < 3:
        return 0.0
    t = np.array([p[0] for p in points]) / 1000.0
    v = np.array([p[1] for p in points], dtype=float)
    return float(np.polyfit(t - t[0], v, 1)[0])
