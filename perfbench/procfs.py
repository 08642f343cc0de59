"""Host and process-tree readings from /proc (Linux only).

The benchmark process, its JVM and the JVM's Python workers form one
process tree; CPU and memory are summed over that tree.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return s[s.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and every live descendant of it."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the process tree so far.

    A reaped child's time is in its parent's cutime/cstime, so summing
    utime+stime+cutime+cstime over the live tree counts exited Python
    workers exactly once."""
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_pss_mb() -> float:
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def steal_s() -> float:
    """Host-wide CPU steal so far, summed over CPUs, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def load_1m() -> float:
    return os.getloadavg()[0]


class PssSampler:
    """Samples the tree's PSS every 2 s on a background thread and
    keeps the peak.  ``cpu_s`` is the sampler thread's own CPU so far
    (its /proc reads, page-table walks included), which a caller
    subtracts from the tree's CPU."""

    INTERVAL_S = 2.0

    def __init__(self):
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self.cpu_s = time.thread_time()
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb())
