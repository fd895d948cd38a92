"""Pure measurement helpers: percentiles, job-span coverage, units, the
environment guard, and process-tree / host readings from ``/proc``.

Nothing here imports Spark, so the math is testable on its own
(``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import os
import statistics
import threading
import time

MB = 1_000_000  # metric names say ``_mb``: decimal megabytes
#: samples ``tail`` keeps above the value it reports
TAIL_BEYOND = 10
#: seconds between two RSS samples of the process tree
RSS_INTERVAL_S = 0.2

#: the only package knob the benchmark sets itself; any other
#: ``SPARK_GRAFT_*`` changes what is measured, so the run refuses it
OWN_KNOB = "SPARK_GRAFT_CPUS"


def to_mb(n_bytes: float) -> float:
    return n_bytes / MB


def ms_to_s(ms: float) -> float:
    return ms / 1_000.0


def ns_to_s(ns: float) -> float:
    return ns / 1_000_000_000.0


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float, int]:
    """Return ``(value, percentile, n)`` for the highest percentile that
    still has ``TAIL_BEYOND`` samples above it.

    With fewer than ``4 * TAIL_BEYOND`` samples the rule keeps a quarter of
    them above the reported one instead (never fewer than none), so short
    runs still report an upper quantile rather than nothing.
    """
    if not values:
        raise ValueError("tail() of no samples")
    ordered = sorted(values)
    n = len(ordered)
    k = min(TAIL_BEYOND, n // 4)
    rank = n - 1 - k
    return ordered[rank], round(100.0 * (rank + 1) / n, 1), n


def covered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``spans``."""
    total, cursor = 0.0, lo
    for start, end in sorted(spans):
        start, end = max(start, cursor), min(end, hi)
        if end > start:
            total += end - start
            cursor = end
    return total


def gap(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Part of the wall interval ``[lo, hi]`` that no span covers."""
    return (hi - lo) - covered(spans, lo, hi)


def check_env(environ: dict[str, str]) -> None:
    """Refuse package knobs other than the one the benchmark sets."""
    stray = sorted(
        k for k in environ if k.startswith("SPARK_GRAFT_") and k != OWN_KNOB
    )
    if stray:
        raise SystemExit(
            "refusing to run with "
            + ", ".join(f"{k}={environ[k]}" for k in stray)
            + ": the benchmark measures the package defaults; unset them"
        )


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------------------
# /proc readings
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> dict[int, list[str]]:
    """``{pid: stat fields}`` of ``root`` and all its live descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                stats[int(name)] = fields
    members, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats and pid not in members:
            members[pid] = stats[pid]
            frontier += [p for p, f in stats.items() if int(f[1]) == pid]
    return members


def tree_rss_bytes(members: dict[int, list[str]]) -> int:
    return sum(int(f[21]) for f in members.values()) * _PAGE


def tree_cpu_s(members: dict[int, list[str]]) -> float:
    """utime+stime of every member plus that of the children it reaped."""
    return sum(sum(int(x) for x in f[11:15]) for f in members.values()) / _TICK


def host_cpu_s() -> tuple[float, float]:
    """``(busy, steal)`` CPU-seconds of the whole host since boot."""
    with open("/proc/stat") as fh:
        cols = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = cols[:8]
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started by the kernel."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    started_ticks = int(_stat(os.getpid())[19])
    return time.time() - uptime + started_ticks / _TICK


class Contention:
    """CPU the host spent outside the benchmark's process tree over a window.

    A co-tenant shows as ``other_cpu_s`` > 0 (or as ``steal_s`` when the
    contention sits outside this virtual machine) while the benchmark's own
    job, stage and task counts stay unchanged.
    """

    def __init__(self) -> None:
        self.root = os.getpid()
        self.load_start = os.getloadavg()
        self.host_start = host_cpu_s()
        self.tree_start = tree_cpu_s(tree(self.root))

    def finish(self) -> dict[str, float]:
        busy0, steal0 = self.host_start
        busy1, steal1 = host_cpu_s()
        own = tree_cpu_s(tree(self.root)) - self.tree_start
        return {
            "loadavg_start": self.load_start[0],
            "loadavg_end": os.getloadavg()[0],
            "own_cpu_s": round(own, 2),
            "other_cpu_s": round(max(busy1 - busy0 - own, 0.0), 2),
            "steal_s": round(steal1 - steal0, 2),
        }


class PeakRss:
    """Samples the RSS of the whole process tree (Python driver, JVM and
    Python workers) on a background thread and keeps the peak."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(tree(os.getpid())))

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join()
        self.sample()
        return to_mb(self.peak)
