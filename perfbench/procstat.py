"""CPU time and memory high-water marks of a process tree, from /proc.

The benchmark's driver process starts the JVM, and the JVM starts the
Python workers, so the tree rooted at the driver holds every process that
does the work.  CPU time sums ``utime + stime`` of every live process plus
``cutime + cstime`` (children already reaped), so a worker that exits
mid-measurement keeps counting through its parent.  Memory is the sum of
each live process's ``VmHWM`` (peak resident set), as the kernel keeps it.
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str) -> list[str]:
    with open(os.path.join(proc, str(pid), "stat")) as f:
        raw = f.read()
    # comm (field 2) may contain spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name), proc)[1])
        except (FileNotFoundError, ProcessLookupError, ValueError, IndexError):
            continue  # the process ended while we listed
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return sorted(out)


def cpu_seconds(root: int, proc: str = "/proc") -> float:
    """user + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree(root, proc):
        try:
            f = _stat_fields(pid, proc)
        except (FileNotFoundError, ProcessLookupError):
            continue
        # fields 14-17 of stat: utime stime cutime cstime (index from 3)
        ticks += sum(int(v) for v in f[11:15])
    return ticks / _TICKS


def hwm_mb(root: int, proc: str = "/proc") -> float:
    """Sum of VmHWM over the live tree, in MiB."""
    kb = 0
    for pid in tree(root, proc):
        try:
            with open(os.path.join(proc, str(pid), "status")) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return kb / 1024.0


def process_age_s(pid: int | None = None, proc: str = "/proc") -> float:
    """Seconds since ``pid`` (default: this process) started."""
    pid = os.getpid() if pid is None else pid
    start_ticks = int(_stat_fields(pid, proc)[19])
    with open(os.path.join(proc, "uptime")) as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICKS
