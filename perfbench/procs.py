"""The processes a run starts, found through /proc, so that a run ends
only once every one of them has ended: the oracle child, the Spark JVM
and the PySpark daemon with its Python workers."""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Orphaned descendants (a child the JVM never reaped) are handed to
    this process instead of init, so it can reap them before it exits."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _parent(pid: int) -> int | None:
    """Parent pid of a process that is still running, None once it has
    ended.  A zombie has ended only when no thread of it is left: a JVM
    whose main thread has exited still runs its shutdown hooks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
        if rest[0] in "ZX" and len(os.listdir(f"/proc/{pid}/task")) <= 1:
            return None
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return int(rest[1])


def descendants(root: int | None = None) -> set[int]:
    """Live processes below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _parent(int(name))
            if ppid is not None:
                children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [root]
    while todo:
        for pid in children.get(todo.pop(), ()):
            if pid not in out:
                out.add(pid)
                todo.append(pid)
    return out


def _reap() -> None:
    """Collect this process's own ended children."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def wait_ended(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until each of ``pids`` has ended; what is still running after
    ``timeout`` seconds gets SIGTERM, then SIGKILL."""
    for sig, limit in ((None, timeout), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        end = time.monotonic() + limit
        while True:
            _reap()
            pids = {p for p in pids if _parent(p) is not None}
            if not pids or time.monotonic() > end:
                break
            time.sleep(0.05)
        if not pids:
            _reap()    # a child that ended after the last pass
            return
    raise RuntimeError(f"processes {sorted(pids)} did not end")
