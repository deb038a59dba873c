"""Readings of a process tree from /proc: parent links, CPU time, memory."""

from __future__ import annotations

import os
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, start time, CPU ticks) for every live process.

    The CPU ticks are user plus system time of the process and of its
    children that it has waited for. Zombies are left out: they have ended.
    """
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if f[0] != "Z":
            table[int(entry)] = (int(f[1]), f[19], sum(int(x) for x in f[11:15]))
    return table


def tree(root: int, table: dict) -> list[int]:
    """``root`` and every live descendant of it."""
    children = defaultdict(list)
    for pid, (ppid, *_) in table.items():
        children[ppid].append(pid)
    found, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            found.append(pid)
            stack.extend(children[pid])
    return found


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants."""
    table = proc_table()
    return sum(table[pid][2] for pid in tree(root, table)) / CLK_TCK


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_KB
    except OSError:
        return 0
