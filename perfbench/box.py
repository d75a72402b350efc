"""The machine a run measures on, and the process tree it starts.

Everything here reads /proc (Linux): the process tree's resident memory,
the descendants to wait for at exit, and the CPU affinity used to pin the
single-core leg of the scaling measurement.
"""

from __future__ import annotations

import os
import platform
import signal
import threading
import time

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # comm may hold spaces or parentheses: fields resume after the last ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_bytes() -> int:
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_BYTES
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (driver, JVM, Python workers) every `interval` seconds; `stop()` returns
    the peak in MiB."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak / 2**20


def steal_and_total_ticks() -> tuple[int, int]:
    """CPU time the hypervisor gave to other guests, and all CPU time, in
    clock ticks since boot (the first line of /proc/stat)."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of all CPU time stolen between two `steal_and_total_ticks`."""
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def pin(cpus: set[int]) -> None:
    """Set the affinity of every thread of this process tree. Threads and
    processes started later inherit it from their creator."""
    for pid in [os.getpid(), *descendants()]:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # thread ended meanwhile
                continue


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until none of `pids` exists; returns those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive


def kill_and_wait(pids: list[int], timeout: float = 10.0) -> None:
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            continue
    wait_gone(pids, timeout)


def describe(java_version: str) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    with open("/proc/cpuinfo") as f:
        models = [l.split(":", 1)[1].strip() for l in f if l.startswith("model name")]
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "cpu": models[0] if models else platform.machine(),
        "java": java_version,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }
