"""Ownership of every process a benchmark run starts.

``adopt_orphans`` makes this process the subreaper of its tree, so a
descendant whose parent ends (a Python worker of a stopped JVM) is
re-parented here instead of to init. ``stop_all`` then ends the JVM that
pyspark launched and every other descendant and reaps each one, so the
benchmark never exits while a process it started is still running.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import time

from .trace import children_map

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants(root: int) -> list[int]:
    children = children_map()
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return out


def _reap() -> None:
    """Collect every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace_s: float = 30.0) -> None:
    """Shut down pyspark's JVM gateway and wait until every descendant has
    ended and been reaped; kill what is left after ``grace_s``."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = None
        SparkContext._jvm = None
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            # the gateway server exits at EOF on its stdin
            with contextlib.suppress(OSError):
                proc.stdin.close()
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline + 10.0:
        _reap()
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)
    raise RuntimeError(f"processes {left} did not end")
