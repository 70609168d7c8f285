"""Arithmetic of the benchmark: percentiles, span self time, driver gap,
stream backlog and ladder choice, and the expected-output check.

Everything here is plain Python over the raw measurements the JVM writes,
so ``tests/test_metrics.py`` can pin each rule without Spark."""
import statistics

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return xs[int(rank) - 1]


def tail(values):
    """The highest ladder percentile with at least ten samples beyond it.

    Returns ``(percentile, value, n)``, or ``None`` when even the median
    lacks ten samples above it."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        if n - -(-n * p // 100) >= TAIL_MIN_BEYOND:
            best = p
    if best is None:
        return None
    return best, percentile(values, best), n


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0
    end = None
    start = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if end is None or s > end:
            if end is not None:
                total += end - start
            start, end = s, e
        else:
            end = max(end, e)
    if end is not None:
        total += end - start
    return total


def driver_gap(wall, jobs):
    """Wall time of ``wall = (start, end)`` during which no job ran."""
    s0, e0 = wall
    clipped = [(max(s, s0), min(e, e0)) for s, e in jobs]
    return (e0 - s0) - union_length(clipped)


# job-group prefixes the benchmark's own calls carry: `graft.Watchdog`'s
OWN_GROUPS = ("graft-watchdog-",)


def jobs_of(op, jobs, slack_ms=1.0):
    """Jobs an operation launched: those that started within its time
    window and carry its job group, or a group the benchmark did not set.
    The engine sets such groups itself (a streaming query's run id) or
    none at all. ``slack_ms`` absorbs the millisecond rounding of the
    listener's event times."""
    s = op["start_us"] / 1000.0 - slack_ms
    e = op["end_us"] / 1000.0 + slack_ms
    return [j for j in jobs if s <= j["start_ms"] <= e
            and (j["group"] == op["group"]
                 or not j["group"].startswith(OWN_GROUPS))]


def self_times(spans):
    """Self time per span id: the span's length minus the part of it that
    its direct children cover (children may overlap each other)."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(
                (s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        length = s["end_us"] - s["start_us"]
        covered = union_length(
            [(max(a, s["start_us"]), min(b, s["end_us"]))
             for a, b in kids.get(s["id"], [])])
        out[s["id"]] = length - covered
    return out


def backlog_growing(samples, rate, min_samples=2, frac=0.5):
    """Whether a backlog series grows during one ladder rung.

    ``samples`` are ``(t_seconds, backlog_events)``. The backlog grows
    when its least-squares slope exceeds ``frac`` of the arrival rate,
    or when the rung saw too few commits to tell (the sink fell behind)."""
    if len(samples) < min_samples:
        return True
    ts = [t for t, _ in samples]
    bs = [b for _, b in samples]
    mt, mb = statistics.fmean(ts), statistics.fmean(bs)
    var = sum((t - mt) ** 2 for t in ts)
    if var == 0:
        return True
    slope = sum((t - mt) * (b - mb) for t, b in samples) / var
    return slope > frac * rate


def max_rate(rungs, limit_ms):
    """The highest ladder rate that meets the latency limit without a
    growing backlog, climbing from the lowest rate and stopping at the
    first rung that fails. ``rungs`` are ``(rate, p50_ms, growing)``;
    returns 0 when the lowest rung already fails."""
    best = 0
    for rate, p50, growing in sorted(rungs):
        if p50 is None or p50 > limit_ms or growing:
            break
        best = rate
    return best


def check_outputs(expected, checks):
    """Compare the run's output checks with the recorded expectations.

    ``expected`` maps ``kind/name`` to the recorded value; ``checks`` are
    the run's ``{"kind", "name", "got"}`` records, possibly several per
    key (one per pass). Returns ``(n_checked, mismatches)``."""
    bad = []
    n = 0
    for c in checks:
        key = f"{c['kind']}/{c['name']}"
        n += 1
        if key not in expected:
            bad.append((key, "no expectation recorded"))
        elif expected[key] != c["got"]:
            bad.append((key, f"expected {expected[key]!r}, got {c['got']!r}"))
    return n, bad
