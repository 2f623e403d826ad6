"""Process-tree CPU and memory readings from /proc, plus the host stamp.

The tree is this process and every process descended from it: the
Spark JVM the session launches and the Python workers it forks.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses; the fields after it do not.
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, counting reaped children
    (Python workers that exit are reaped by their daemon). Steal time
    is not part of utime/stime."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime stime cutime cstime are fields 14-17 of stat; the
            # slice starts at field 3.
            total += sum(int(x) for x in f[11:15])
    return total / _TICKS


def tree_pss_mb(root: int | None = None) -> dict[int, float]:
    """Proportional set size in MB of each process of the tree, from
    ``/proc/<pid>/smaps_rollup``. PSS splits each shared page among
    the processes that map it, so the sum over the tree counts the
    pages a forked Python worker still shares with its daemon, or a
    vfork'd clone with the JVM, once."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) / 1024
                        break
        except OSError:
            continue
    return out


class PeakRss:
    """Samples the tree's resident memory (summed PSS) on a thread;
    ``peak_mb`` is the largest sample taken between ``start()`` and
    ``stop()``, and ``peak_parts`` that sample's per-process PSS,
    largest first."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_parts: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = tree_pss_mb()
        total = sum(parts.values())
        if total > self.peak_mb:
            self.peak_mb = total
            self.peak_parts = sorted(parts.values(), reverse=True)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_mb

    def parts(self) -> list[int]:
        return [round(x) for x in self.peak_parts]


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7], sum(vals)) if len(vals) >= 8 else None


def steal_pct(before: tuple[int, int] | None,
              after: tuple[int, int] | None) -> float | None:
    """Share of host CPU time stolen between two readings, or None."""
    if before is None or after is None or after[1] <= before[1]:
        return None
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])
