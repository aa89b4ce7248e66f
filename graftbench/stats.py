"""Summary statistics and run context for the benchmark."""

from __future__ import annotations

import hashlib
import os
import statistics
import time

TAIL_MIN_ABOVE = 10


def tail(samples: list[float], min_above: int = TAIL_MIN_ABOVE) -> dict:
    """The highest percentile of ``samples`` with at least ``min_above``
    samples above it, never below the median.

    Returns ``{"value", "percentile", "above", "n"}``. With ``n`` samples
    the value is the ``(min_above + 1)``-th largest, which sits at
    percentile ``100 * (n - min_above) / n``; when that falls below the
    median (fewer than ``2 * min_above + 1`` samples) the median is used,
    so a tail never reads lower than the p50 it accompanies."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    k = max(n - min_above - 1, n // 2)
    return {
        "value": xs[k],
        "percentile": round(100.0 * (k + 1) / n, 2),
        "above": n - 1 - k,
        "n": n,
    }


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()[1:]
    except OSError:
        return 0, 0
    vals = [int(v) for v in fields]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


class StealSampler:
    """CPU steal over an interval, in cores: steal jiffies divided by
    elapsed wall time in jiffies. A value near 0 means the hypervisor took
    no CPU from the host while the benchmark ran."""

    def __init__(self) -> None:
        self._t0 = time.monotonic()
        self._s0, _ = _cpu_jiffies()

    def cores(self) -> float:
        steal, _ = _cpu_jiffies()
        hz = os.sysconf("SC_CLK_TCK")
        wall = max(time.monotonic() - self._t0, 1e-9)
        return round((steal - self._s0) / hz / wall, 4)


def source_commit(root: str) -> str:
    """The git commit of ``root`` when it is a repository, else
    ``"none"`` (a plain source checkout)."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "none"


def source_digest(package_dir: str) -> str:
    """sha256 over the package's Python sources: identifies the program
    version even where no git metadata exists."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(package_dir):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, package_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def run_context(root: str, package_dir: str, seed: int, cpus: int,
                steal: StealSampler) -> dict:
    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": list(os.getloadavg()),
        "steal_cores": steal.cores(),
        "commit": source_commit(root),
        "source_digest": source_digest(package_dir),
        "seed": seed,
    }
