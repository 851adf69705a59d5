"""Host facts and process-tree accounting read from ``/proc``.

The process tree is this interpreter plus every descendant: the Spark
JVM and its Python workers.  CPU is summed as utime+stime+cutime+cstime
over the live tree, so work of exited workers stays counted through the
parent that reaped them.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_age_s() -> float:
    """Seconds since this process was started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start / _TICK


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                kids.setdefault(int(_stat(int(name))[1]), []).append(int(name))
            except (OSError, IndexError):
                pass
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    total = 0
    for p in pids or tree_pids():
        try:
            f = _stat(p)
        except (OSError, IndexError):
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError):
            pass
    return total * _PAGE / 2**20


class RssSampler:
    """Background sampler of the tree's summed RSS; ``take()`` returns
    the peak since the previous call.  The pid list refreshes every
    ``refresh`` samples so new Python workers are picked up."""

    def __init__(self, period: float = 0.1, refresh: int = 5):
        self.period, self.refresh = period, refresh
        self._peak = 0.0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self):
        i, pids = 0, tree_pids()
        while not self._stop.wait(self.period):
            i += 1
            if i % self.refresh == 0:
                pids = tree_pids()
            v = tree_rss_mb(pids)
            with self._lock:
                self._peak = max(self._peak, v)

    def take(self) -> float:
        v = tree_rss_mb(tree_pids())
        with self._lock:
            peak, self._peak = max(self._peak, v), 0.0
        return peak

    def stop(self):
        self._stop.set()
        self._t.join()


def rss_by_command(pids: list[int]) -> dict[str, float]:
    """Resident MB of the tree grouped by command name."""
    out: dict[str, float] = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{p}/statm") as f:
                mb = int(f.read().split()[1]) * _PAGE / 2**20
        except (OSError, IndexError):
            continue
        out[name] = out.get(name, 0.0) + mb
    return out


def host_cpu_s() -> dict[str, float]:
    """Host-wide busy and stolen CPU seconds (``/proc/stat``), to tell a
    slow host from a slow run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy_s": (v[0] + v[1] + v[2] + v[5] + v[6]) / _TICK, "steal_s": v[7] / _TICK}


def busy_loop_rate(seconds: float = 0.25) -> float:
    """Single-core pure-Python iterations per second: a Spark-free
    yardstick so no ratio is read across hosts."""
    x, n = 1.0, 0
    t_end = time.perf_counter() + seconds
    t0 = time.perf_counter()
    while time.perf_counter() < t_end:
        for _ in range(10_000):
            x = x * 1.0000001 + 1e-9
        n += 10_000
    return n / (time.perf_counter() - t0)


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count() if not hasattr(os, "sched_getaffinity") else len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_total_mb()),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }
