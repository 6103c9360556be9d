"""Every process a run starts ends before the run does.

Spark's JVM starts a Python daemon that forks the workers, and the JVM
launcher script leaves a subshell behind; when their parents exit first
they are orphaned. :func:`adopt_orphans` makes this process their
subreaper, so orphans are re-parented here instead of to PID 1 (which
in a container may never reap them), and :func:`stop_all` ends and
reaps every descendant that is left.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Re-parent orphaned descendants to this process (Linux only)."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _table() -> dict:
    """pid -> (ppid, state) for every process in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        out[int(d)] = (int(fields[1]), fields[0])
    return out


def descendants(root: int, live_only: bool = False) -> list[int]:
    table = _table()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, (pp, _) in table.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    if live_only:
        out = [p for p in out if table.get(p, (0, "Z"))[1] not in "ZX"]
    return out


def _reap() -> bool:
    """Reap every exited child; True while some child is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def _close_resource_tracker() -> None:
    """multiprocessing's resource tracker ignores SIGTERM and exits when
    its pipe from this process closes."""
    from multiprocessing import resource_tracker
    rt = resource_tracker._resource_tracker
    fd = getattr(rt, "_fd", None)
    if fd is not None:
        os.close(fd)
        rt._fd = None


def stop_all(grace_s: float = 5.0, timeout_s: float = 30.0) -> None:
    """Wait ``grace_s`` for descendants to exit on their own, then
    SIGTERM them, SIGKILL them after ``timeout_s``, and reap them all."""
    _close_resource_tracker()
    t0 = time.monotonic()
    while _reap() or descendants(os.getpid(), live_only=True):
        waited = time.monotonic() - t0
        if waited > timeout_s + 10:
            break
        if waited > grace_s:
            sig = signal.SIGKILL if waited > timeout_s else signal.SIGTERM
            for pid in descendants(os.getpid(), live_only=True):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
