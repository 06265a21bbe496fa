"""End every process a run starts, and wait for each to end.

A PySpark session runs a JVM child (``spark-submit``), which in turn may
fork Python workers. ``SparkSession.stop()`` stops the context but leaves
the JVM running until its stdin closes, that is until the Python process
has exited; the JVM then ends on its own, orphaned, after the benchmark
has already returned. The set-up probe's JVM is orphaned the same way.

``become_subreaper`` makes this process the reaper of its orphaned
descendants, so they stay in its tree; ``stop_spark`` ends a session's
JVM and waits for it; ``end_descendants`` ends whatever is left and reaps
every one before the run exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h
JVM_EXIT_S = 60.0  # a gateway JVM not gone this long after EOF is killed


def become_subreaper() -> bool:
    """Have orphaned descendants re-parented to this process instead of
    init. False where the call is unavailable."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):  # pragma: no cover - non-Linux
        return False


def stop_spark(spark) -> None:
    """Stop the session, then end its gateway JVM and wait until it has
    exited: the JVM exits when its stdin reaches EOF, and is killed if it
    has not within JVM_EXIT_S."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            # no gateway.shutdown(): with a Python listener registered it
            # waits on connections the JVM holds open; they close when it exits
            proc = getattr(gateway, "proc", None)
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                try:
                    proc.stdin.close()
                except (OSError, AttributeError):
                    pass
                try:
                    proc.wait(JVM_EXIT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process below ``root`` (default: this one)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended meanwhile
            continue
        # the command name may hold spaces or parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def _reap() -> None:
    """Collect the exit status of every ended child."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace: float = 10.0, limit: float = 30.0) -> list[str]:
    """Terminate every descendant (kill those still alive after ``grace``
    seconds) and wait until none is left, reaped, or ``limit`` seconds
    have passed. Returns the ones found, as ``"pid name state"``."""
    found = [describe(pid) for pid in descendants()]
    for pid in (int(f.split()[0]) for f in found):
        _signal(pid, signal.SIGTERM)
    start = time.monotonic()
    killed = False
    while True:
        _reap()
        left = descendants()
        if not left or time.monotonic() - start > limit:
            return found
        if not killed and time.monotonic() - start > grace:
            for pid in left:
                _signal(pid, signal.SIGKILL)
            killed = True
        time.sleep(0.05)


def describe(pid: int) -> str:
    """``"pid name state"`` of a process, from ``/proc/<pid>/stat``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return f"{pid} ? ?"
    name = stat[stat.index("(") + 1:stat.rindex(")")].replace(" ", "_")
    return f"{pid} {name} {stat[stat.rindex(')') + 2:].split()[0]}"


def _signal(pid: int, sig: int) -> None:
    try:
        os.kill(pid, sig)
    except ProcessLookupError:
        pass
