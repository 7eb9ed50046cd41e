"""Summary statistics and a /proc process-tree sampler.

The sampler reads ``/proc/<pid>/stat`` for the benchmark's own process
and every descendant (the JVM it launches and the JVM's Python workers),
so CPU and memory of the whole tree are counted without psutil.
"""

from __future__ import annotations

import math
import os
import statistics
import threading

PERCENTILE_LEVELS = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(xs) -> float:
    return statistics.median(xs)


def quartiles(xs) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(xs, n=4)`` gives them;
    a single sample is its own quartiles."""
    xs = list(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first, so 90% of 100 is rank 90, not 91)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    s = sorted(xs)
    return s[_rank(len(s), p) - 1]


def supported_percentile(xs, min_beyond: int = 10):
    """The highest of :data:`PERCENTILE_LEVELS` that leaves at least
    ``min_beyond`` samples above it, as ``(level, value)``; None when
    even the median does not (fewer than ``2 * min_beyond`` samples)."""
    n = len(xs)
    best = None
    for p in PERCENTILE_LEVELS:
        if n - _rank(n, p) >= min_beyond:
            best = (p, percentile(xs, p))
    return best


def summary(xs) -> dict:
    """Median, quartiles, sample count and the highest supported
    percentile (or the maximum, flagged, when none is supported)."""
    q1, q2, q3 = quartiles(xs)
    out = {"median": q2, "q1": q1, "q3": q3, "n": len(xs)}
    hp = supported_percentile(xs)
    if hp is None:
        out["max"] = max(xs)
        out["high_percentile"] = None
    else:
        out["high_percentile"] = {"p": hp[0], "value": hp[1]}
    return out


# --------------------------------------------------------------------------
# /proc process tree

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: str):
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:  # the process ended between listdir and open
        return None
    # comm may hold spaces and parentheses: fields resume after the last ')'
    rest = raw[raw.rfind(b")") + 2:].split()
    # rest[0] is field 3 (state); ppid is field 4, utime..cstime 14-17,
    # rss 24 (pages)
    return (int(rest[1]), sum(int(x) for x in rest[11:15]),
            int(rest[21]))


def tree_sample(root: int) -> tuple[float, int, int]:
    """(cpu_seconds, rss_bytes, n_processes) summed over ``root`` and all
    its descendants.  CPU counts user+sys of each live process plus the
    reaped children it waited for, so worker processes that already
    exited are still counted once their parent has reaped them."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            s = _read_stat(pid)
            if s is not None:
                stats[int(pid)] = s
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    cpu = rss = n = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        s = stats.get(pid)
        if s is None:
            continue
        cpu += s[1]
        rss += s[2]
        n += 1
        todo.extend(kids.get(pid, ()))
    return cpu / _CLK, rss * _PAGE, n


def host_cpu_times() -> list[int]:
    """The host's aggregate CPU times from ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time between two :func:`host_cpu_times` readings
    that the hypervisor gave to other guests (a noisy host reads high)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


class TreeSampler:
    """Background sampler of the process tree's resident memory.

    ``start`` begins sampling every ``interval`` seconds; ``lap`` returns
    the peak RSS in bytes seen since ``start`` or the previous ``lap``;
    ``stop`` ends sampling and returns the peak since the last lap."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = root if root is not None else os.getpid()
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = tree_sample(self.root)[1]
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def lap(self) -> int:
        with self._lock:
            peak = max(self._peak, tree_sample(self.root)[1])
            self._peak = 0
        return peak

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None
        return self.lap()
