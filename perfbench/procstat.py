"""Process-tree CPU and memory, host load and steal, read from /proc.

The benchmark's driver process, the Spark JVM it launches and the
Python workers the JVM forks form one process tree; ``tree_cpu_s``
covers all three (Spark's ``executorCpuTime`` misses the Python
workers). Every reader returns ``None`` or an empty result instead of
raising, so a host without /proc, or a process that exits mid-read,
never fails a run.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parens: split after its closing paren
    head, _, tail = raw.rpartition(")")
    return tail.split() if head else None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    try:
        pids = [int(p) for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return kids
    for pid in pids:
        f = _stat_fields(pid)
        if f and len(f) > 1:
            kids.setdefault(int(f[1]), []).append(pid)
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_s(pids: list[int]) -> float:
    """User+system CPU of ``pids`` plus their reaped children."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f and len(f) > 14:
            # fields after comm: utime=11 stime=12 cutime=13 cstime=14
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_cpu_s() -> float:
    return cpu_s(tree())


def _jvm_workers() -> tuple[list[int], list[int]]:
    """The JVM(s) this process launched, and the Python worker daemons
    (plus workers) below them."""
    jvms = [p for p in tree() if "java" in _cmdline(p).split(" ", 1)[0]]
    workers = set()
    for j in jvms:
        workers.update(p for p in tree(j) if p != j)
    return jvms, sorted(workers)


def python_worker_cpu_s() -> float:
    """CPU of the PySpark worker daemons and the workers they reaped."""
    return cpu_s(_jvm_workers()[1])


def _hwm_mb(pids: list[int]) -> float:
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except (OSError, ValueError, IndexError):
            continue
    return kb / 1024.0


def tree_peak_rss_mb() -> float:
    """Sum of each live tree process's peak resident set (VmHWM)."""
    return _hwm_mb(tree())


def peak_rss_by_role() -> dict[str, float]:
    """``tree_peak_rss_mb`` split into driver Python, JVM and workers."""
    jvms, workers = _jvm_workers()
    return {"driver": _hwm_mb([os.getpid()]), "jvm": _hwm_mb(jvms),
            "workers": _hwm_mb(workers), "n_workers": len(workers)}


def host_cpu_ticks() -> tuple[int, int] | None:
    """``(total, steal)`` jiffies from the aggregate cpu line of
    /proc/stat, or None when it cannot be read or parsed."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return sum(vals[:8]), steal
    except (OSError, ValueError, IndexError):
        return None


def steal_pct(before, after) -> float | None:
    if not before or not after:
        return None
    dt = after[0] - before[0]
    return round(100.0 * (after[1] - before[1]) / dt, 3) if dt > 0 else None


def loadavg() -> list[float] | None:
    try:
        return [float(x) for x in os.getloadavg()]
    except OSError:
        return None
