"""Pure metric logic of the benchmark: percentiles, failure share, span
self time and the arrival-to-commit lag mapping. No Spark, no I/O beyond
reading the stream's source log, so tests/test_benchlib.py covers it."""
import json
import math
import os
import statistics


def quantile(values, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest whole percentile with at least ten samples beyond it,
    never below the median: n=100 -> 90, n=120 -> 91, n=40 -> 75."""
    if n < 1:
        raise ValueError("no samples")
    return max(50, math.floor(100 * (1 - 10 / n) + 1e-9))


def tail(values):
    """(percentile, value) of the tail rule above."""
    p = tail_percentile(len(values))
    return p, quantile(values, p / 100)


def failure_share(attempted, failed):
    """Failed ops over attempted ops; an op that failed counts once even if
    it failed for several reasons."""
    if attempted < 1:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def count_failed(ops, bad_cells=()):
    """Ops that raised, differed from the checked result, or called a
    cell whose checked result mismatched the oracle."""
    bad = set(bad_cells)
    return sum(1 for o in ops if not o["ok"] or o.get("cell") in bad)


def covered(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    a, b = span
    return (b - a) - covered(children, a, b)


def read_source_log(path):
    """File -> micro-batch id, from a file stream source's metadata log
    (`<checkpoint>/sources/0`: one file per batch plus `.compact` files,
    each a version line followed by JSON entries)."""
    out = {}
    for name in sorted(os.listdir(path)):
        if name.startswith(".") or name.endswith(".crc") or name.endswith(".tmp"):
            continue
        with open(os.path.join(path, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def commit_end_us(progress):
    """When a micro-batch's commit finished, in epoch microseconds: the
    trigger's start plus its duration, less the offset-log commit that
    follows addBatch (the txn commits inside addBatch)."""
    d = progress["durations_ms"]
    return (progress["trigger_start_ms"] + d["triggerExecution"] - d.get("commitOffsets", 0)) * 1000


def arrival_lags(arrivals, file_batch, progress):
    """Lag of each timed arrival, from when it was due to when the batch
    that read its file committed: file -> batch (source log) -> commit
    (progress). Returns (lags in s, arrivals whose batch never committed)."""
    by_batch = {p["batch"]: p for p in progress}
    lags, missing = [], []
    for a in arrivals:
        b = file_batch.get(a["file"])
        p = by_batch.get(b)
        if p is None:
            missing.append(a["file"])
        else:
            lags.append((commit_end_us(p) - a["due"]) / 1e6)
    return lags, missing


def backlog_max(arrivals, file_batch, progress_by_batch):
    """Most arrivals ever renamed into the dropbox but not yet committed."""
    ev = []
    for a in arrivals:
        ev.append((a["renamed"], 1))
        p = progress_by_batch.get(file_batch.get(a["file"]))
        if p is not None:
            ev.append((commit_end_us(p), -1))
    cur = best = 0
    for _, d in sorted(ev):
        cur += d
        best = max(best, cur)
    return best


def spread(values):
    """(median, q1, q3, iqr / median) as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
