"""Facts about the machine and the process tree, read from /proc.

Cores come from the scheduler affinity mask (what ``nproc`` prints), the
driver heap from MemTotal. Peak RSS is summed over the whole tree: this
Python driver, the JVM it launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """A quarter of physical memory, 1-8 GiB: the single local JVM holds
    driver and executors, and Python workers need the rest."""
    return f"{min(max(mem_total_mb() // 4, 1024), 8192)}m"


def cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return "unknown"


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def busy_steal(before: list[int], after: list[int]) -> dict:
    """Busy and stolen shares of all CPU time between two ``cpu_times``."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": round(1 - (d[3] + d[4]) / total, 3),
            "steal": round(d[7] / total, 3)}


def facts() -> dict:
    return {"cores": cores(), "mem_total_mb": mem_total_mb(),
            "driver_heap": driver_heap(), "cpu_model": cpu_model()}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / (1 << 20)


class RssSampler:
    """Samples the summed RSS of this process and its descendants."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.period)

    def sample(self, me: int | None = None) -> None:
        me = me or os.getpid()
        self.peak_mb = max(self.peak_mb, rss_mb([me] + descendants(me)))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def wait_gone(pids, timeout: float) -> list[int]:
    """Wait for ``pids`` to exit; return the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def kill_all(pids) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        pids = wait_gone(pids, 5.0)
        if not pids:
            return
