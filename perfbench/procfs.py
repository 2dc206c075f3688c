"""Process-tree readings from /proc (Linux): parent, start time, CPU time
and resident memory of a process and all its descendants."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def stat(pid: int) -> tuple[int, int, float] | None:
    """(ppid, start time, CPU seconds incl. reaped children) of a live
    process, None if it is gone or a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        if fields[0] == "Z":
            return None
        cpu = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
        return int(fields[1]), int(fields[19]), cpu
    except (OSError, IndexError, ValueError):
        return None


def tree(root: int) -> dict[int, tuple[int, int, float]]:
    """stat() of ``root`` and every live descendant, by pid."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := stat(int(name))) is not None:
            stats[int(name)] = st
            children.setdefault(st[0], []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    return sum(st[2] for st in tree(root).values())


def pss_bytes(pid: int) -> int:
    """Proportional resident set: a page shared by n processes (forked
    Python workers) counts 1/n in each, so a sum over processes counts
    every resident page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0
