"""Process-tree CPU and peak-RSS accounting read from ``/proc``.

A Spark pass spends its CPU in three kinds of process: the benchmark's own
Python process, the JVM it launched, and the Python workers the JVM forks.
``cpu_by_kind`` walks the tree rooted at a pid and sums
``utime + stime + cutime + cstime`` per kind, so the difference of two
snapshots is the CPU the whole tree burned in between.  A child that exits
and is reaped moves its CPU into its parent's ``cutime``, so the sum stays
continuous across worker churn.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
KINDS = ("main", "jvm", "python")


def _read_stat(pid: int):
    with open(f"/proc/{pid}/stat", "rb") as f:
        data = f.read()
    # comm sits in parentheses and may itself contain spaces or ')'
    close = data.rindex(b")")
    comm = data[data.index(b"(") + 1 : close].decode(errors="replace")
    fields = data[close + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return comm, ppid, ticks / _TICK


def _snapshot() -> dict[int, tuple[str, int, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                out[int(name)] = _read_stat(int(name))
            except (FileNotFoundError, ProcessLookupError, ValueError):
                continue  # exited while we listed it
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """Pids of ``root`` (default: this process) and all its descendants."""
    return list(_tree(_snapshot(), root or os.getpid()))


def _tree(snap, root):
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in snap.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in snap:
            out[pid] = snap[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_by_kind(root: int | None = None) -> dict[str, float]:
    """CPU-seconds so far of the tree under ``root``, split by process kind:
    ``main`` (the root itself), ``jvm`` (``java``) and ``python`` (every
    other descendant: the PySpark daemon and its workers), plus ``total``."""
    root = root or os.getpid()
    out = dict.fromkeys(KINDS, 0.0)
    for pid, (comm, _, cpu) in _tree(_snapshot(), root).items():
        kind = "main" if pid == root else ("jvm" if comm == "java" else "python")
        out[kind] += cpu
    out["total"] = sum(out[k] for k in KINDS)
    return out


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


def peak_rss_mb(root: int | None = None) -> float:
    """Summed ``VmHWM`` (peak resident set) of the live tree, in MiB."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total_kb / 1024.0
