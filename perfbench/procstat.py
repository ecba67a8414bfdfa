"""Readings from /proc: CPU time of a process tree, peak resident memory and
CPU steal. Every function takes the /proc root so tests can point it at a
fake tree."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int, proc: str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name, so that index 0 is
    field 3 (state). The name can hold spaces and parentheses; it ends at the
    last ')'."""
    with open(f"{proc}/{pid}/stat") as f:
        data = f.read()
    return data[data.rindex(")") + 2:].split()


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(int(name), proc)[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """User + system CPU seconds of ``root``'s live tree, including children
    each member has reaped (cutime/cstime), so a child that exits between
    two readings keeps its CPU in the sum through its parent."""
    ticks = 0
    for pid in tree_pids(root, proc):
        try:
            f = _stat(pid, proc)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def peak_rss_mb(pid: int, proc: str = "/proc") -> float:
    """VmHWM (peak resident set) of one process, in MiB; 0 if it is gone."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_times(proc: str = "/proc") -> tuple[int, int]:
    """(steal, total) jiffies of the whole box from the aggregate cpu line."""
    with open(f"{proc}/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0
