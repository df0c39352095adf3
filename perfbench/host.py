"""Host diagnostics and process-tree memory, read from /proc.

The host numbers are reported beside the results; none of them is used to
adjust a metric.
"""

from __future__ import annotations

import hashlib
import os
import time


def cpu_times() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat (user nice system idle iowait
    irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two reads."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total > 0 and len(d) > 7 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_probe() -> float:
    """Wall seconds of a fixed single-threaded hashing loop."""
    t = time.perf_counter()
    h = b"pygrametl_spark"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def tree_hwm_mb(root: int) -> float:
    """Sum over ``root`` and its live descendants of each process's peak
    resident memory (``VmHWM``)."""
    total_kb = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, ValueError, IndexError):
            continue
    return total_kb / 1024
