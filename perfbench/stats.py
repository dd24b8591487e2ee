"""Pure statistics for the serving benchmark: order statistics, host
counters and span self time. No Spark, no sockets — unit-tested in
perfbench/tests."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values. Over a mix of statement kinds whose
    latencies differ tenfold, every request moves it by its own ratio, so it
    settles with far fewer samples than the median, which only the requests
    near the middle of the mix inform."""
    if not values:
        raise ValueError("geometric mean of an empty sample")
    return statistics.geometric_mean(values)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    TAIL_BEYOND samples beyond it.

    With n samples sorted ascending that is the order statistic at index
    n - TAIL_BEYOND - 1. Below 2 * TAIL_BEYOND + 1 samples that statistic
    falls under the median, so the median is reported instead (its
    percentile says so)."""
    if not values:
        raise ValueError("tail of an empty sample")
    xs = sorted(values)
    n = len(xs)
    i = n - TAIL_BEYOND - 1
    if i < (n - 1) / 2:
        return median(xs), 50.0
    return xs[i], 100.0 * (i + 1) / n


def spread(values: list[float]) -> float:
    """Interquartile distance over the median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def cpu_counters(proc_stat: str) -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate `cpu` line of /proc/stat."""
    for line in proc_stat.splitlines():
        if line.startswith("cpu "):
            fields = [int(x) for x in line.split()[1:]]
            # user nice system idle iowait irq softirq steal [guest guest_nice]
            # guest time is already counted inside user/nice
            return fields[7], sum(fields[:8])
    raise ValueError("no aggregate cpu line in /proc/stat")


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time (seconds) of every span: its busy time minus the part of
    its interval that its direct children cover.

    A span is a dict with `id`, `parent` (id or None), `start`, `end` and
    optionally `busy`. A span with `busy` is an aggregate: many short
    timed calls (e.g. row fetches interleaved with batch building) summed
    into one record, so an aggregate child subtracts its busy time, not its
    interval. Interval children are clipped to the parent and merged where
    they overlap. Only direct children are subtracted: grandchildren are
    inside their own parent's time, so nothing is subtracted twice."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        busy = s.get("busy", s["end"] - s["start"])
        covered = 0.0
        intervals = []
        for c in kids.get(s["id"], ()):
            if "busy" in c:
                covered += c["busy"]
            else:
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi > lo:
                    intervals.append((lo, hi))
        intervals.sort()
        cur_lo = cur_hi = None
        for lo, hi in intervals:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = busy - covered
    return out
