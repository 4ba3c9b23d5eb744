"""Small, Spark-free helpers: percentiles, spreads, space amplification and
host controls. Kept free of Spark so they are unit-tested on their own."""

from __future__ import annotations

import os
import statistics

# candidate tail percentiles, highest first; a coarse ladder keeps the chosen
# percentile the same from run to run when the sample count moves a little
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 85.0, 80.0, 75.0, 70.0, 65.0, 60.0, 55.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest ladder percentile with at least ``min_beyond`` of ``n``
    samples beyond it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            return p
    return None


def tail(values) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with ten samples beyond."""
    p = tail_percentile(len(values))
    if p is None:
        raise ValueError(f"{len(values)} samples: fewer than {2 * MIN_BEYOND} for any tail")
    return p, percentile(values, p)


def spread(values) -> dict:
    """Median, quartiles and the interquartile distance as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / med if med else float("inf"),
        "n": len(values),
    }


def space_amp(bytes_on_disk: int, live_rows: int, dim: int, itemsize: int = 4) -> float:
    """On-disk store bytes over the raw bytes of its live vectors."""
    raw = live_rows * dim * itemsize
    if raw <= 0:
        raise ValueError("no live vectors")
    return bytes_on_disk / raw


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def loadavg() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return 0.0


def rss_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB; 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
