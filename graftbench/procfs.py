"""Process-tree CPU, memory and host steal, read from Linux ``/proc``.

The engine runs as three kinds of process: the Python driver, the JVM it
launches, and the JVM's Python workers. Their costs are only visible
summed over the whole tree, so these helpers walk ``/proc`` for every
descendant of a root pid.
"""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed.
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root`` (not ``root`` itself)."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its descendants.

    A live process's ``cutime``/``cstime`` already hold the CPU of its
    exited and reaped children (the JVM's short-lived Python workers), so
    summing all four fields over the live tree counts each process once.
    """
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def tree_rss_bytes(root: int, include_root: bool = True) -> int:
    """Resident memory of ``root``'s tree, counting a shared address space once.

    A child caught between ``vfork`` and ``exec`` (the JVM spawns one for
    every shell command Hadoop's local file system runs) shares its
    parent's address space; adding it would count the parent twice. Such
    a child reports its parent's virtual size, which the parent's moving
    resident size does not disturb, so a child with its parent's virtual
    size is skipped. A Python worker just forked from its daemon also
    matches; it still shares all its pages with the daemon.
    """
    kids = _children_map()
    statm = {}
    total = 0
    todo = [(root, None)]
    while todo:
        pid, parent = todo.pop()
        todo.extend((k, pid) for k in kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read().split()[:3]
        except OSError:
            continue
        if (pid != root or include_root) and statm[pid][0] != statm.get(parent, [None])[0]:
            total += int(statm[pid][1]) * PAGE
    return total


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def stop_tree(root: int, grace_s: float = 5.0) -> None:
    """Wait for every descendant of ``root`` to end, stopping stragglers.

    Descendants get ``grace_s`` to exit by themselves (a JVM exits once
    its Python driver has gone), then SIGTERM, then SIGKILL.
    """
    left = _wait_gone(descendants(root), grace_s)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        left = _wait_gone(left, grace_s)
    if left:
        raise RuntimeError(f"processes {left} survived SIGKILL")


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    while True:
        _reap()
        pids = [p for p in pids if _alive(p)]
        if not pids or time.monotonic() >= deadline:
            return pids
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass
