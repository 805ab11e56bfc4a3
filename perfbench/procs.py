"""The benchmark's child processes: adopt the orphans among them, list
them, and reap every one before the run exits."""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the subreaper of every process this run starts, so that
    workers orphaned when their parent exits (the Python workers the JVM
    forks) are re-parented here and can be reaped by :func:`reap_all`."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        prctl = None
    if prctl is not None:
        prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
        prctl.restype = ctypes.c_int
        if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0:
            return
    print("perfbench: cannot become a subreaper; orphaned workers "
          "will not be reaped", file=sys.stderr)


def descendants() -> list[int]:
    """Pids of every live or zombie descendant of this process."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def reap_all(grace_s: float = 10.0) -> None:
    """Wait for every descendant to end and reap it: first give them
    ``grace_s`` to exit on their own, then SIGTERM, then SIGKILL."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        pids = descendants()
        if not pids:
            return
        now = time.monotonic()
        if now > deadline:
            sig = signal.SIGKILL if sig is signal.SIGTERM else signal.SIGTERM
            deadline = now + 5.0
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
