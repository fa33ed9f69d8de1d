"""Process hygiene for one benchmark run: every process the run starts,
the Spark JVM and anything it forks, has ended before the run exits.

`SparkSession.stop()` stops the SparkContext but leaves the gateway JVM
running until the Python process exits, and the JVM then takes a moment
to notice and shut down.  A later run could find it still alive, so the
run stops it itself and waits.  The run also makes itself the child
subreaper (Linux), so a process the JVM forks and orphans is re-parented
to the run, which can then wait for it instead of polling for it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Re-parent orphaned descendants to this process (best effort)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def children() -> list[int]:
    """Live (not yet reaped) direct children of this process."""
    me = os.getpid()
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[1]) == me:
            out.append(int(entry))
    return out


def stop_gateway(timeout: float = 30.0) -> None:
    """Stop the PySpark gateway JVM and wait for it to exit.  The JVM
    exits on its own when its standard input closes; it is killed if it
    has not within `timeout` seconds."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
    except (OSError, AttributeError):
        pass
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap_all(grace: float = 10.0) -> None:
    """End every remaining child: wait `grace` seconds, then SIGTERM, then
    SIGKILL, reaping each so that none is left behind as a zombie."""
    deadline = time.monotonic() + grace
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        left = children()
        if not left:
            return
        if time.monotonic() >= deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)
