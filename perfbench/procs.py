"""Every process a run starts ends before the run does.

Spark's JVM forks Python worker daemons, and those fork workers; the
reference token counts use a process pool, whose queues start
``multiprocessing``'s resource tracker.  Each of these exits on its own
once its parent or pipe goes away, but only some time after the run
would have exited.  So the run makes itself a child subreaper (orphaned
descendants are re-parented to it, not to init), and before it exits
``reap`` waits for every child left, then terminates and finally kills
those that do not end.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_resource_tracker() -> None:
    """Close the pipe that keeps ``multiprocessing``'s resource tracker
    alive and wait for it to exit; a no-op when it is not running."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                out.append(int(d))
    return out


def reap(grace_s: float = 10.0, term_s: float = 5.0) -> list[int]:
    """Wait until this process has no children left: for ``grace_s``
    seconds they may end on their own, then they get SIGTERM and, after
    ``term_s`` more, SIGKILL.  Returns the pids that had to be signalled."""
    start, sent = time.monotonic(), set()
    while True:
        while True:  # collect every child that has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return sorted({pid for pid, _ in sent})
            if pid == 0:
                break
        waited = time.monotonic() - start
        sig = (
            signal.SIGKILL if waited > grace_s + term_s
            else signal.SIGTERM if waited > grace_s
            else None
        )
        for pid in _children() if sig is not None else ():
            if (pid, sig) not in sent:
                sent.add((pid, sig))
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.02)
