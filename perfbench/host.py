"""Host context and memory sampling, read from /proc.

Context (steal and iowait ticks, load average, usable cores) is recorded
beside every timed sample so a noisy window shows in the output; it is
never a compared metric.
"""

from __future__ import annotations

import os
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> dict[str, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return {"iowait": vals[4], "steal": vals[7] if len(vals) > 7 else 0}


class HostWindow:
    """Steal and iowait tick deltas plus load average over one sample."""

    def __enter__(self):
        self._t0 = _cpu_ticks()
        return self

    def __exit__(self, *exc):
        t1 = _cpu_ticks()
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        self.context = {
            "steal_ticks": t1["steal"] - self._t0["steal"],
            "iowait_ticks": t1["iowait"] - self._t0["iowait"],
            "loadavg_1m": load1, "nproc": nproc()}
        return False


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it. Plain RSS would count the whole JVM
    again for every short-lived child the JVM forks (Hadoop's shell
    calls), since a child shares its parent's pages until it execs."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory (PSS) of ``root`` and all its descendants (the
    driver JVM and the Python workers it forks)."""
    kids, todo, total = _children(), [root], 0
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo += kids.get(pid, [])
    return total / 1024


class PeakRss:
    """Background sampler of the peak RSS of a process tree, active only
    between ``start()`` and ``stop()``."""

    def __init__(self, root: int, every_s: float = 0.1):
        self.root, self.every_s, self.peak_mb = root, every_s, 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.every_s)

    def start(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self):
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
