"""Process-tree CPU and memory, host steal time, read from ``/proc``.

The tree is the benchmark process and every descendant: the Spark JVM and
the Python workers it forks.  CPU counts utime + stime of each live
process plus cutime + cstime (children already reaped), so a worker that
exits inside a window still counts.  Steal is the host's ``steal`` column
of ``/proc/stat``: time the hypervisor ran someone else while this VM had
work; it inflates wall time but not the CPU of the tree.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and its descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between listing and reading
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK_TCK


def tree_hwm_split_mb(root: int) -> dict[str, float]:
    """High-water RSS (``VmHWM``) of each of the tree's processes, keyed
    ``<pid>:<executable name>``.  A process running the same executable as
    its parent is a fork of it (a Python worker of the worker daemon, or
    the JVM's short-lived spawn helper) and shares its pages; it is skipped
    so shared memory is counted once."""
    def exe(pid: int) -> str | None:
        try:
            return os.readlink(f"/proc/{pid}/exe")
        except OSError:
            return None

    kids = _children_map()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        mine = exe(pid)
        for kid in kids.get(pid, ()):
            if exe(kid) != mine:
                todo.append(kid)
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb = next((int(line.split()[1]) for line in fh
                           if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
        out[f"{pid}:{os.path.basename(mine or '?')}"] = round(kb / 1024, 1)
    return out


def tree_hwm_mb(root: int) -> float:
    """Summed high-water RSS of the tree (see ``tree_hwm_split_mb``)."""
    return sum(tree_hwm_split_mb(root).values())


def host_steal_s() -> float:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / CLK_TCK if len(cpu) > 8 else 0.0


def process_age_s(pid: int) -> float:
    """Seconds since ``pid`` started.  Both the start tick count in
    ``/proc/<pid>/stat`` and ``CLOCK_BOOTTIME`` count from boot, so the
    difference carries no wall-clock step or whole-second boot-time
    rounding; its resolution is one clock tick."""
    with open(f"/proc/{pid}/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / CLK_TCK
