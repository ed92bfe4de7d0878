"""The benchmark's arithmetic: percentiles, shard latencies, span self
time and failure counting. Pure functions over plain lists, tested by
test_metrics.py."""

import math
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def nearest_rank(sorted_values, p):
    """The p-th percentile by nearest rank, and how many samples lie beyond it."""
    n = len(sorted_values)
    rank = max(1, math.ceil(p / 100.0 * n))
    return sorted_values[rank - 1], n - rank


def tail(values, min_beyond=MIN_BEYOND):
    """The highest percentile in TAIL_PERCENTILES with at least
    `min_beyond` samples beyond it, as (percentile, value). With too few
    samples for any of them, the maximum is reported as (100.0, max)."""
    s = sorted(values)
    for p in TAIL_PERCENTILES:
        v, beyond = nearest_rank(s, p)
        if beyond >= min_beyond:
            return p, v
    return 100.0, s[-1]


median = statistics.median


def shard_latencies(due_ms, shard_rows, batches):
    """Seconds from each shard's due time to the end of the first batch
    whose cumulative input rows cover it.

    Files are consumed in mtime order, so the first k rows a query reads
    are the first shards in due order. `batches` is [(start_ms, end_ms,
    rows)] of one query; a shard no batch covers gets None."""
    out = []
    ordered = sorted(batches)
    b, cum = 0, 0
    need = 0
    for due, rows in zip(due_ms, shard_rows):
        need += rows
        while b < len(ordered) and cum < need:
            cum += ordered[b][2]
            b += 1
        if cum >= need and b > 0:
            out.append((ordered[b - 1][1] - due) / 1000.0)
        else:
            out.append(None)
    return out


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def failed_share(checks):
    """Failed operations over attempted ones, summed over all checks."""
    attempted = sum(c["attempted"] for c in checks)
    failed = sum(c["failed"] for c in checks)
    return failed, attempted, (failed / attempted if attempted else 1.0)
