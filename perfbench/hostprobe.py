"""Process-level probes for a benchmark run.

- ``memcpy_gbps``: the memcpy probe of ``bench.py``'s ``memory_bandwidth``,
  shortened to a quarter second on one process. It runs before and after
  every run so a reader can tell a slow host from a regression; it is
  context, not a metric.
- ``steal_s``: CPU time the hypervisor gave to other guests while this
  one's processors were runnable, summed over processors; context too.
- ``RssSampler``: peak resident memory of this Python driver, the Spark
  driver JVM it launched and the JVM's Python workers.
- ``descendants`` and ``wait_gone``: the processes a run started, and
  waiting until they have ended.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

_BW_SCRIPT = r"""
import time
import numpy as np
a = np.zeros(64_000_000 // 8)
b = np.ones_like(a)
np.copyto(a, b)
t0 = time.perf_counter(); it = 0
while time.perf_counter() - t0 < 0.25:
    np.copyto(a, b); it += 1
print(it * 0.128 / (time.perf_counter() - t0))
"""


def memcpy_gbps() -> float:
    """GB/s moved by one process copying 64 MB arrays for 0.25 s."""
    out = subprocess.run([sys.executable, "-c", _BW_SCRIPT],
                         capture_output=True, text=True, timeout=60,
                         check=True)
    return round(float(out.stdout.strip()), 2)


def steal_s() -> float:
    """Stolen CPU seconds since boot, over all processors (0 where the
    kernel does not count steal)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    steal = int(fields[8]) if len(fields) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every descendant, with the
    children each has reaped (a Python worker that exited still counts).
    The kernel leaves stolen time out of these counters."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(f) for f in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _processes() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, command name, start time in clock ticks after
    boot), for every process visible in /proc."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields follow its ')'
        comm, rest = stat.split(" (", 1)[1].rsplit(")", 1)
        fields = rest.split()
        procs[int(name)] = (int(fields[1]), comm, int(fields[19]))
    return procs


def descendants(root: int, procs: dict | None = None) -> list[int]:
    """Every process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in (procs or _processes()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until none of ``pids`` runs any more (a zombie counts as
    ended); kill what is left after ``timeout`` seconds."""
    def alive(pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(alive, pids):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _tree_rss_bytes(root: int, page: int, tick: int) -> tuple[int, int]:
    """Resident bytes of ``root`` and every descendant process, as
    (all, java processes). A process younger than one second is skipped:
    a child the JVM spawns shares the JVM's address space until it execs,
    and would count the whole JVM twice."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    procs = _processes()
    total = java = 0
    for pid in [root] + descendants(root, procs):
        if pid not in procs or uptime - procs[pid][2] / tick < 1.0:
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except OSError:
            continue
        total += rss
        java += rss if procs[pid][1] == "java" else 0
    return total, java


class RssSampler:
    """Samples the process tree's resident memory every ``interval``
    seconds on a daemon thread and keeps the peaks. Each sample walks
    /proc under the driver's GIL, so sampling more often slows the
    engine's Python driver."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = self.peak_java_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def _run(self) -> None:
        while not self._stop.is_set():
            total, java = _tree_rss_bytes(os.getpid(), self._page, self._tick)
            self.peak_bytes = max(self.peak_bytes, total)
            self.peak_java_bytes = max(self.peak_java_bytes, java)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    @property
    def peak_java_mb(self) -> float:
        return self.peak_java_bytes / 2**20
