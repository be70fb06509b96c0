"""CPU and memory of this process's tree, read from ``/proc``, and the
end of that tree.

The tree is the Python driver, the JVM it launched and the JVM's Python
workers. CPU includes ``cutime``/``cstime``, so workers that exit between
two reads are still counted (their parent reaps them).
"""

from __future__ import annotations

import ctypes
import os
import signal
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of ``pid``, or
    None when it has exited."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm is parenthesised and may hold spaces; fields resume after ")"
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return int(rest[1]), comm, ticks / _TICK


@dataclass(frozen=True)
class TreeCpu:
    total_s: float  # whole tree
    pyworker_s: float  # processes below the JVM (Spark's Python workers)


def _snapshot() -> tuple[dict[int, tuple[int, str, float]], dict[int, list[int]]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm, _cpu) in stats.items():
        children.setdefault(ppid, []).append(pid)
    return stats, children


def _below(children: dict[int, list[int]], root: int) -> list[int]:
    """``root`` and every descendant of it."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu(root: int | None = None) -> TreeCpu:
    stats, children = _snapshot()
    tree = [p for p in _below(children, root or os.getpid()) if p in stats]
    total = sum(stats[p][2] for p in tree)
    py = sum(
        stats[p][2]
        for jvm in tree
        if stats[jvm][1] == "java"
        for p in _below(children, jvm)
        if p != jvm and p in stats
    )
    return TreeCpu(total, py)


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live tree of each process's peak resident set
    (``VmHWM``), in MiB."""
    _stats, children = _snapshot()
    kb = 0
    for pid in _below(children, root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of its tree: a descendant whose
    parent exits first (a Spark Python worker when the JVM stops) is
    re-parented here instead of to init, so ``stop_tree`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Wait for every child that has already exited."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(grace_s: float = 10.0) -> None:
    """Stop every descendant of this process and wait until each has
    ended: SIGTERM at once, SIGKILL to what is left after ``grace_s``."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    signalled: set[tuple[int, int]] = set()
    while True:
        _reap()
        _stats, children = _snapshot()
        tree = [p for p in _below(children, me) if p != me]
        if not tree:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in tree:
            if (pid, sig) not in signalled:
                signalled.add((pid, sig))
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
