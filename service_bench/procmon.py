"""Process-tree sampling from /proc: resident memory and CPU time of this
Python process and every descendant (the JVM that PySpark launches)."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_INTERVAL_S = 0.2
CALIBRATION_LOOPS = 2_000_000


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, utime+stime seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree(root: int) -> dict[int, float]:
    """pid -> CPU seconds, for ``root`` and all of its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, []))
    return out


class ProcSampler:
    """Samples the tree every ``SAMPLE_INTERVAL_S``; ``peak_rss_mb`` is the
    largest sum of resident memory seen, ``cpu_s()`` the tree's CPU time now."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="procmon", daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def sample(self) -> None:
        rss = sum(_rss(pid) for pid in tree(self.root))
        self.peak_rss = max(self.peak_rss, rss)

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def cpu_s(self) -> float:
        return sum(tree(self.root).values())

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_rss / 2**20


def host_steal_s() -> float:
    """CPU seconds, summed over all CPUs, that the hypervisor has given to
    other guests since boot (the ``steal`` field of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def calibration_s() -> float:
    """Seconds for a fixed pure-Python loop: how fast this machine is right
    now. Reported beside the metrics to tell host noise from program change."""
    t = time.perf_counter()
    x = 0
    for i in range(CALIBRATION_LOOPS):
        x += i
    return time.perf_counter() - t
