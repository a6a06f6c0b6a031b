"""Pure helpers of the benchmark: percentiles, the checkpoint-log join and
the Demo2 reference counter. No Spark and no I/O beyond reading a
checkpoint directory, so `test_e2ebench.py` can pin each rule."""
import json
import math
import os
import statistics

import numpy as np

# ---------------------------------------------------------------- percentiles


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n, want=99.0, beyond=10):
    """The highest percentile, at most `want`, that leaves at least `beyond`
    of `n` samples above it under the nearest-rank rule; None if `n` is too
    small for any. A percentile is reported only where the sample supports
    it: p99 needs 1000 samples, p90 needs 100."""
    if n <= beyond:
        return None
    p = min(want, 100.0 * (n - beyond) / n)
    # the rank `percentile` computes must not exceed n - beyond despite float rounding
    while math.ceil(p / 100.0 * n) > n - beyond:
        p = math.nextafter(p, 0.0)
    return p


def spread(values):
    """(median, q1, q3, iqr/median, (max-min)/median) as the acceptance rule
    computes them with statistics.quantiles(n=4)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med, (max(values) - min(values)) / med

# --------------------------------------------------------- checkpoint join


def planned_batches(ckpt):
    """file basename -> (batchId, time its batch was planned), from the file
    source's log: `sources/0/<batchId>` and the compacted
    `<batchId>.compact` files, which repeat earlier batches' entries. A
    batch was planned when its own log file was written."""
    d = os.path.join(ckpt, "sources", "0")
    files, planned_at = {}, {}
    if not os.path.isdir(d):
        return files
    for name in os.listdir(d):
        stem = name[:-len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        path = os.path.join(d, name)
        planned_at[int(stem)] = os.stat(path).st_mtime_ns / 1e9
        with open(path) as f:
            lines = f.read().splitlines()[1:]  # the first line is the log version
        for line in filter(str.strip, lines):
            e = json.loads(line)
            files[os.path.basename(e["path"])] = int(e["batchId"])
    return {name: (b, planned_at.get(b)) for name, b in files.items()}


def commit_times(ckpt):
    """batchId -> commit time (mtime of `commits/<batchId>`, epoch s)."""
    d = os.path.join(ckpt, "commits")
    out = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


def join_files(ckpt, files):
    """For each generated file name, (batchId, commit time) or None when the
    file was never planned or its batch never committed."""
    planned = planned_batches(ckpt)
    commits = commit_times(ckpt)
    out = {}
    for name in files:
        b = planned.get(name)
        out[name] = (b[0], commits[b[0]]) if b and b[0] in commits else None
    return out


def backlog_max(written, planned_at):
    """Largest number of written-but-unplanned files at any write instant.
    `written`: name -> write time; `planned_at`: name -> plan time or None."""
    # at equal times a plan counts before a write: that file is no longer waiting
    events = [(t, 1) for t in written.values()]
    events += [(planned_at[n], 0) for n in written if planned_at.get(n) is not None]
    waiting = worst = 0
    for _, is_write in sorted(events):
        waiting += 1 if is_write else -1
        if is_write:
            worst = max(worst, waiting)
    return worst


# ------------------------------------------------------ Demo2 reference counter


def demo2_reference(event_times, user_ids, on_time, watermark_s):
    """Demo2's expected output: per (1-minute window start, user) counts of
    the on-time events, for the windows an append-mode sink has emitted by
    the time the watermark reached `watermark_s` (window end <= watermark).
    Returns {(window_start_s, user_id): count}."""
    t = np.asarray(event_times, dtype=np.int64)
    u = np.asarray(user_ids, dtype=np.int64)
    w = t // 60 * 60
    keep = np.asarray(on_time, dtype=bool) & (w + 60 <= watermark_s)
    if not keep.any():
        return {}
    pairs, counts = np.unique(np.stack([w[keep], u[keep]], axis=1), axis=0, return_counts=True)
    return {(int(a), int(b)): int(c) for (a, b), c in zip(pairs, counts)}
