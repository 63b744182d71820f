"""The benchmark's arithmetic, kept free of I/O so test_metrics.py can
pin it: percentiles, service rate, span self time, driver gap, commit
latency from call windows and inode-deduplicated store byte counts."""

import statistics


def percentile(values, p):
    """Linear-interpolated percentile (0 <= p <= 100) of `values`."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(values, candidates=(99, 95, 90, 75, 50)):
    """The highest candidate percentile that leaves at least ten samples
    beyond it, as (p, value, n); (None, None, n) when even p50 does not."""
    n = len(values)
    for p in candidates:
        if n * (100 - p) / 100.0 >= 10:
            return p, percentile(values, p), n
    return None, None, n


def service_rate(done_ms, window_end_ms):
    """Completions per second between the first and the last completion
    before `window_end_ms`: the rate the clients kept up while requests
    were offered, without the ramp before the first completion or the
    run-out of requests still in flight when offering stopped."""
    done = sorted(t for t in done_ms if t <= window_end_ms)
    if len(done) < 2 or done[-1] == done[0]:
        raise ValueError("fewer than two completions in the offer window")
    return (len(done) - 1) / ((done[-1] - done[0]) / 1000.0)


def median(values):
    return statistics.median(values) if values else 0.0


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """span id -> duration minus the part of it its child spans cover.
    `spans` are (id, name, parent, req, start, end) tuples."""
    children = {}
    for s in spans:
        children.setdefault(s[2], []).append((s[4], s[5]))
    return {s[0]: (s[5] - s[4]) - covered(children.get(s[0], []), s[4], s[5])
            for s in spans}


def driver_gap(start, end, job_intervals):
    """Wall time of [start, end] during which no job was running."""
    return (end - start) - covered(job_intervals, start, end)


def commit_latencies(publishes, calls):
    """Per store publish (time, table dir): the time since the previous
    publish within the same call, or since the call began for its first
    publish, which is what the call spent producing that version.
    `calls` are the (start, end) windows of the calls that publish.
    Returns (table dir, latency) pairs in publish order; a publish
    outside every call raises ValueError, so none goes untimed."""
    out = []
    last = {}
    for at, table in sorted(publishes):
        call = next((tuple(c) for c in calls if c[0] <= at <= c[1]), None)
        if call is None:
            raise ValueError(f"publish of {table} at {at} is outside every timed call")
        out.append((table, at - last.get(call, call[0])))
        last[call] = at
    return out


def new_inode_bytes(before, after):
    """Bytes of inodes present in `after` but not in `before`; listings
    are (inode, bytes, live) triples, a hard-linked file counted once."""
    seen = {e[0] for e in before}
    fresh = {}
    for ino, size, _live in after:
        if ino not in seen:
            fresh[ino] = size
    return sum(fresh.values()), len(fresh)


def space_amp(listing):
    """Distinct-inode bytes on disk / bytes of the live versions. A file
    hard-linked into several version dirs takes its bytes once on disk
    and once per live version that names it."""
    on_disk = sum({ino: size for ino, size, _ in listing}.values())
    live = sum(size for _, size, is_live in listing if is_live)
    return on_disk / live if live else float("nan")
