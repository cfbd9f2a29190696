"""Host facts and process accounting read from ``/proc``.

Nothing here touches Spark: the calibration loop is a Spark-free
single-thread work rate, so a pass that ran during a contention window
(other tenants of the machine) can be told apart from a slow program.
"""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_start_time() -> float:
    """Epoch seconds at which this process started (``/proc`` stat)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = int(fields[19])  # field 22 of stat: starttime, in clock ticks
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f
                    if line.startswith("MemTotal"))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_calibration(n: int = 2_000_000) -> float:
    """Single-thread pure-Python work rate in Mops/s."""
    acc = 0
    t0 = time.perf_counter()
    for i in range(n):
        acc += i * 31 & 1023
    return n / (time.perf_counter() - t0) / 1e6


def tree_cpu_s() -> float:
    """CPU seconds (user plus system) of this process and its
    descendants, reaped children included. Time the hypervisor gave to
    other tenants (steal) is not in it."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_KB
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and the
    Python workers it forks), sampled on a background thread."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def reap_descendants(timeout_s: float = 30.0) -> list[int]:
    """Wait for every descendant process to exit; kill what is left
    after ``timeout_s``. Returns the pids that had to be killed."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.1)
    killed = descendants(me)
    for pid in killed:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in killed:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass  # a grandchild: its own parent reaps it
    return killed
