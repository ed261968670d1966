"""The benchmark's arithmetic: percentiles, interval unions, latency
attribution and span self time. Pure functions; tested in test_metrics.py."""
import math


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default rule); 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_supported(n, p, min_beyond=10):
    """A percentile may be reported only with at least `min_beyond` samples
    beyond it: p90 needs >= 100 samples, p99 >= 1000."""
    return n * (100.0 - p) / 100.0 >= min_beyond


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if min(e, end) > max(s, start)]


def driver_gap(start, end, job_intervals):
    """Wall time of [start, end] not covered by any Spark job."""
    return (end - start) - union_length(clip(job_intervals, start, end))


def row_latencies(batches, due_of_id, lo_id, hi_id):
    """Latency of each row id in [lo_id, hi_id]: the commit time of the batch
    that delivered it minus the row's due time.

    `batches` holds (start_exclusive, end_inclusive, commit_ms) id ranges,
    as the progress events' {"max": ...} offsets give them. Rows no batch
    delivered are returned separately as missing."""
    lat, covered = [], set()
    for start, end, commit in batches:
        a, b = max(start + 1, lo_id), min(end, hi_id)
        for i in range(a, b + 1):
            if i not in covered:
                covered.add(i)
                lat.append(commit - due_of_id(i))
    missing = (hi_id - lo_id + 1) - len(covered)
    return lat, missing


def commit_rate(batches, start, end):
    """Rows per second committed between the last commit at or before `start`
    and the last commit at or before `end`: whole batches only, so the rate
    does not jump with where a window edge cuts a batch."""
    commits = sorted((c, e - s) for s, e, c in batches)
    before = [c for c, _ in commits if c <= start]
    inside = [(c, n) for c, n in commits if start < c <= end]
    if not before or not inside:
        return 0.0
    return sum(n for _, n in inside) / ((inside[-1][0] - before[-1]) / 1000.0)


def self_times(spans):
    """{span id: own duration minus the part of it its children cover}.
    Children may overlap each other and may stick out of their parent."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(clip(kids.get(s["id"], []), s["start"], s["end"]))
            for s in spans}


def skew(task_ms):
    """max / median task time; 1.0 for an empty or all-zero stage."""
    med = percentile(task_ms, 50)
    return max(task_ms) / med if task_ms and med > 0 else 1.0
