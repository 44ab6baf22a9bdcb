"""This process tree, read from /proc: the driver, the Spark JVM it
launched and the JVM's Python workers."""

from __future__ import annotations

import os


def _children() -> dict[int, list[int]]:
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


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return "?"


def tree_rss(root: int) -> int:
    """Resident bytes of the process tree under root.

    A child that is still the JVM's own image (forked to spawn a Python
    worker or a ``chmod``, not yet exec'd) shares the JVM's pages and is
    skipped; counting it would double the JVM for that sample."""
    page = os.sysconf("SC_PAGE_SIZE")
    kids = _children()
    total = 0
    todo = [(root, "")]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if exe == parent_exe == "java":
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        todo.extend((k, exe) for k in kids.get(pid, []))
    return total
