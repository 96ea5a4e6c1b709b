"""Process-tree accounting from /proc.

A Spark job on ``local[n]`` is a tree: the PySpark process, the JVM it
starts, the PySpark daemon the JVM forks and the Python workers the daemon
forks (where the parse, burst and document kernels run). ``getrusage`` of
the PySpark process sees none of the JVM's children, so CPU and memory are summed over
the live tree. A process that exited and was reaped adds its CPU to its
parent's ``cutime``/``cstime``, which the sum includes.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
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


def tree_cpu_s(root: int) -> float:
    """User plus system CPU-seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of the tree. Forked Python workers
    share most pages with the daemon; summed RSS counts those pages once
    per worker, PSS splits each among its sharers."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


def host_ticks() -> tuple[int, int, int]:
    """(total, idle, steal) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v[:8]), v[3] + v[4], v[7]


def host_shares(t0: tuple[int, int, int], t1: tuple[int, int, int]) -> dict:
    total = max(1, t1[0] - t0[0])
    return {"idle": (t1[1] - t0[1]) / total, "steal": (t1[2] - t0[2]) / total}
