"""Pure metric arithmetic for the benchmark (no Spark, no I/O)."""
import bisect
import json
import math
import statistics

TAIL_Q = 0.99
BEYOND = 10


def quantile(xs, q):
    """Linear-interpolated quantile of `xs` (numpy's default method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_q(n):
    """The highest percentile, at most p99, with at least ten samples
    beyond it; the median when there are too few samples for any."""
    if n <= 0:
        raise ValueError("no samples")
    return max(0.5, min(TAIL_Q, 1.0 - BEYOND / n))


def summary(xs):
    """Median and tail of `xs`, with the quantile used and the count."""
    q = tail_q(len(xs))
    return {"p50": quantile(xs, 0.5), "tail": quantile(xs, q),
            "tail_q": q, "n": len(xs)}


class ClosingIndex:
    """For an event-time threshold, the moment the generator made visible
    the first line whose event time is at least that threshold: the
    earliest visible time of a file holding such a line (None when no
    such line was published). Files are sorted by their largest event
    time, with a suffix minimum of visible times."""

    def __init__(self, generator):
        files = sorted(generator, key=lambda f: f["max_event_ms"])
        self.keys = [f["max_event_ms"] for f in files]
        self.suffix_min = [0] * len(files)
        best = None
        for i in range(len(files) - 1, -1, -1):
            v = files[i]["visible_us"]
            best = v if best is None else min(best, v)
            self.suffix_min[i] = best

    def __call__(self, threshold_ms):
        i = bisect.bisect_left(self.keys, threshold_ms)
        return self.suffix_min[i] if i < len(self.keys) else None


def row_delays(rows, generator, lateness_ms, before_us):
    """Delay in seconds of each sink row (ts_ms = its window end,
    commit_us = when it became visible in its sink), from the publication
    of the line that closes its window to its commit. Rows whose closing
    line was never published, or that were committed at or after
    `before_us` (the closing drain), are not samples; the second count
    returns rows that had a closing line but were only committed then."""
    closing = ClosingIndex(generator)
    delays, late = [], 0
    for ts_ms, commit_us in rows:
        v = closing(ts_ms + lateness_ms)
        if v is None:
            continue
        if commit_us >= before_us:
            late += 1
            continue
        delays.append((commit_us - v) / 1e6)
    return delays, late


def growth(cycle_s):
    """Median of the last tenth of cycle times minus the first tenth's."""
    if not cycle_s:
        return 0.0
    k = max(1, len(cycle_s) // 10)
    return statistics.median(cycle_s[-k:]) - statistics.median(cycle_s[:k])


def backlogs(lines_visible_at_start):
    """Lines each cycle's stage 1 found waiting: published since the
    previous cycle's stage 1 listed its input."""
    out, prev = [], 0
    for v in lines_visible_at_start:
        out.append(v - prev)
        prev = v
    return out


def slow_quarter_mean(xs):
    """Mean of the slowest quarter of `xs` (at least one value): the slow
    end of a set too small for a tail percentile."""
    k = max(1, len(xs) // 4)
    return statistics.fmean(sorted(xs)[-k:])


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line. `metrics` maps a name to
    (value, unit); values are written with repr(float), which no locale
    setting changes."""
    body = {name: {"value": float(v), "unit": u} for name, (v, u) in metrics.items()}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": body})
