"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark process and all its descendants: the JVM that
pyspark launches, the PySpark daemon and its Python workers. CPU time
per process is utime + stime + cutime + cstime, so the time of children
that have exited and been reaped by a member of the tree stays counted.
"""

from __future__ import annotations

import os
import threading
import time

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int, live_only: bool = False) -> list[int]:
    """``root`` and its descendants; ``live_only`` leaves out processes
    that have ended but are not yet reaped (zombies)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None and not (live_only and f[0] == "Z"):
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    total = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after ')' start at stat field 3: utime is 14th
            total += sum(int(x) for x in f[11:15])
    return total / _TICKS


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the summed RSS of the tree every ``interval`` seconds on a
    background thread while enabled; ``peak`` is the largest sample and
    ``cpu`` the CPU seconds the sampling thread itself used, which a
    caller measuring the tree's CPU takes off."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval, self.peak = root, interval, 0
        self.cpu = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes(self.root))

    def _run(self) -> None:
        t0 = time.thread_time()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.root))
            self._stop.wait(self.interval)
        self.cpu = time.thread_time() - t0


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot: time a
    hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)
