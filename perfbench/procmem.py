"""Peak resident memory of a process tree, read from ``/proc``.

``VmHWM`` in ``/proc/<pid>/status`` is the kernel's high-water mark of a
process's resident set. The benchmark sums it over the processes its
Spark session started — the JVM and the JVM's Python worker children —
and keeps the largest sum it sees.
"""

from __future__ import annotations

import os
import time
from pathlib import Path


def vm_hwm_kb(pid: int) -> int | None:
    """``VmHWM`` of ``pid`` in kB, or None once the process is gone."""
    try:
        text = Path(f"/proc/{pid}/status").read_text()
    except (FileNotFoundError, ProcessLookupError):
        return None
    for line in text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return None  # kernel threads carry no memory fields


def _parent_pids() -> dict[int, int]:
    parents = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            stat = Path(entry.path, "stat").read_text()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command name (field 2) may hold spaces; fields resume after ')'
        parents[int(entry.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parents


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_pids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return sorted(out)


class PeakRss:
    """Largest summed ``VmHWM`` seen over the live descendants of this
    process."""

    def __init__(self):
        self.peak_kb = 0

    def sample(self) -> int:
        total = sum(kb for kb in map(vm_hwm_kb, descendants(os.getpid())) if kb)
        self.peak_kb = max(self.peak_kb, total)
        return total

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def process_start_epoch(pid: int | None = None) -> float:
    """Wall-clock time ``pid`` (default: this process) was started."""
    pid = os.getpid() if pid is None else pid
    stat = Path(f"/proc/{pid}/stat").read_text()
    start_ticks = int(stat.rsplit(")", 1)[1].split()[19])
    uptime_s = float(Path("/proc/uptime").read_text().split()[0])
    return time.time() - uptime_s + start_ticks / os.sysconf("SC_CLK_TCK")
