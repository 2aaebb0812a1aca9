"""Process-tree readings from /proc: this process and every descendant
(the JVM and its Python workers)."""

from __future__ import annotations

import os


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_hwm_kb() -> int:
    """Peak resident memory (``VmHWM``) of this process and of each live
    descendant, summed."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> dict[int, float]:
    """CPU seconds (user + system) used so far by this process and each
    live descendant, by pid, each including the children it has reaped
    (Python workers that exited)."""
    out = {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        out[pid] = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
    return out


def process_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by process ``pid``, all its
    threads included, live or exited."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def cpu_since(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU used between two readings by the processes or threads live at
    the second (all of it for one that started in between)."""
    return sum(c - before.get(k, 0.0) for k, c in after.items())


# JIT compiler and code-cache sweeper threads, by the names /proc
# truncates them to
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def jit_thread_cpu(pid: int) -> dict[int, float]:
    """CPU seconds of each live JIT thread of JVM ``pid``, by thread id."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        if name.startswith(JIT_THREADS):
            fields = stat.rsplit(")", 1)[1].split()
            out[int(tid)] = (int(fields[11]) + int(fields[12])) / _TICK
    return out
