"""CPU time and peak memory of a process tree, read from ``/proc``."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, user+sys seconds of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return int(fields[1]), ticks / _TICK


def tree_cpu_s(root: int) -> float:
    """User+sys CPU seconds of ``root`` and all its descendants. A child
    that exited and was reaped is counted in its parent's totals."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def vmhwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
    out, frontier = [], {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out.extend(frontier)
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is running, reaping those that are our
    own children; after ``timeout`` seconds, kill the rest and wait for
    them a little longer."""
    import signal
    import time

    deadline, killed = time.monotonic() + timeout, False
    left = list(pids)
    while left:
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass  # not our child: its new parent reaps it
        left = [p for p in left if _running(p)]
        if left and time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} outlived SIGKILL")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline, killed = time.monotonic() + 10, True
        time.sleep(0.05)
