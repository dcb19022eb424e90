"""Process-tree accounting from /proc: CPU and RSS of a process's
descendants (the Spark JVM, the PySpark daemon and its Python workers), and
reaping every descendant a benchmark process leaves behind."""

from __future__ import annotations

import ctypes
import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36


def table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, user+sys ticks including reaped children, rss pages)."""
    tab = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rfind(")") + 2:].split()
        tab[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21]))
    return tab


def descendants(tab: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in tab.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def children_cpu_s() -> float:
    """User+sys CPU seconds of every process under this one."""
    tab = table()
    return sum(tab[p][1] for p in descendants(tab, os.getpid())) / CLK_TCK


def tree_rss_mb() -> float:
    """Summed RSS of this process and every process under it."""
    tab = table()
    pids = [os.getpid()] + descendants(tab, os.getpid())
    return sum(tab[p][2] for p in pids if p in tab) * PAGE / 2 ** 20


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def become_subreaper() -> None:
    """Orphaned descendants (the JVM outliving its Python driver, the PySpark
    daemon in its own process group) are re-parented here, so ``reap`` can
    find and wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap(grace_s: float) -> None:
    """Wait until no descendant is left; SIGKILL whatever outlives ``grace_s``."""
    deadline = time.time() + grace_s
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = descendants(table(), os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
