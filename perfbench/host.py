"""Host context recorded beside each run: load average, CPU busy and steal
fractions over the timed phase, and the Spark JVM's peak RSS.  It is read
from /proc, outside the engine, so a run disturbed by other tenants shows
up in the data instead of being inferred from drift."""

from __future__ import annotations

import os


def cpu_times() -> list[int]:
    """The aggregate `cpu` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("cpu "):
                return [int(x) for x in line.split()[1:]]
    raise RuntimeError("/proc/stat has no aggregate cpu line")


def cpu_fractions(before: list[int], after: list[int]) -> dict[str, float]:
    """Busy and steal shares of all ticks between two `cpu_times` reads.
    Columns: user nice system idle iowait irq softirq steal [guest ...];
    guest time is already counted in user, so it is left out."""
    delta = [a - b for a, b in zip(after[:8], before[:8])]
    total = sum(delta)
    if total <= 0:
        return {"busy_frac": 0.0, "steal_frac": 0.0}
    idle = delta[3] + delta[4]
    return {
        "busy_frac": (total - idle - delta[7]) / total,
        "steal_frac": delta[7] / total,
    }


def load1() -> float:
    return os.getloadavg()[0]


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
