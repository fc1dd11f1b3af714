"""CPU time and resident memory of this process and all its descendants,
read from /proc (the driver, the Spark JVM and its Python workers)."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while we looked
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    """root and every live process below it."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """utime + stime of each process, plus that of its reaped children."""
    total = 0
    for pid in descendants() if pids is None else pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat (1-based): utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += int(st[21]) * _PAGE  # field 24: rss in pages
    return total


class PeakRss:
    """Samples the tree's summed RSS every `interval` seconds while active."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids = descendants()
        n = 0
        while not self._stop.is_set():
            if n % 10 == 0:  # pick up new workers about once a second
                pids = descendants()
            self.peak = max(self.peak, rss_bytes(pids))
            n += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def spin_seconds(n: int = 3_000_000) -> float:
    """Host calibration: wall time of a fixed pure-Python loop."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0
