"""Host facts for the record: process-tree peak RSS, CPU steal, load and
versions."""

from __future__ import annotations

import os
import platform


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: fields follow the last ')'
                ppid = int(f.read().rpartition(")")[2].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    todo, out = [os.getpid()], []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def reset_peak_rss() -> None:
    """Restart the peak-RSS count (VmHWM) of every process in the tree."""
    for p in _tree():
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue  # the process has exited


def peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak resident set since
    ``reset_peak_rss`` (or since it started), in MiB. Per-process peaks
    come from the kernel, so no sampling is needed, and a child that has
    just been forked and shares its parent's pages is not counted twice."""
    total = 0
    for p in _tree():
        try:
            with open(f"/proc/{p}/status") as f:
                total += next(int(line.split()[1]) for line in f
                              if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue  # exited, or a kernel thread without memory
    return total / 1024


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: a sign of a contended host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def loadavg() -> list[float]:
    return list(os.getloadavg())


def versions(spark) -> dict[str, str]:
    return {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
