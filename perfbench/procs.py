"""Process-tree accounting from /proc: descendants, RSS and CPU time."""

from __future__ import annotations

import os


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int], dict[int, int]]:
    """(children by parent pid, RSS bytes by pid, CPU ticks by pid) from
    /proc. CPU ticks are user + system time of the process and of its
    children that have exited and been waited for."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    cpu: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{p}/statm") as f:
                rss[int(p)] = int(f.read().split()[1]) * page
            ppid = int(fields[1])
            cpu[int(p)] = sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    return children, rss, cpu


def _tree(children: dict[int, list[int]], pid: int) -> list[int]:
    found, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        found.append(p)
        todo.extend(children.get(p, []))
    return found


def descendants(pid: int) -> tuple[list[int], int]:
    """Pids below ``pid`` and the summed RSS of ``pid`` and all of them."""
    children, rss, _ = _proc_table()
    found = _tree(children, pid)
    return found, rss.get(pid, 0) + sum(rss.get(p, 0) for p in found)


TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(roots: list[int]) -> float:
    """CPU seconds (user + system) used so far by the given processes and
    everything below them, finished children included."""
    children, _, cpu = _proc_table()
    pids = set()
    for r in roots:
        pids.add(r)
        pids.update(_tree(children, r))
    return sum(cpu.get(p, 0) for p in pids) / TICK

