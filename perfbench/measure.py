"""Percentiles, memory readings and child-process shutdown."""

from __future__ import annotations

import math
import os
import signal
import statistics
import time

MIN_TAIL_SAMPLES = 10
TAIL_PCT = 90


def nearest_rank(samples: list[float], pct: int) -> float:
    """The nearest-rank ``pct``-th percentile of ``samples``."""
    s = sorted(samples)
    return s[max(1, math.ceil(pct / 100 * len(s))) - 1]


def tail_percentile(samples: list[float]) -> tuple[int, float] | None:
    """``(pct, value)`` for the highest percentile up to the 90th with at
    least ten samples beyond it under the nearest rank, or None when the
    samples cannot support one at or above the median."""
    n = len(samples)
    for pct in range(TAIL_PCT, 49, -1):
        if n - math.ceil(pct / 100 * n) >= MIN_TAIL_SAMPLES:
            return pct, nearest_rank(samples, pct)
    return None


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def reset_peak_rss() -> None:
    """Restart this process's peak resident memory count (VmHWM) from its
    current resident size."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the Spark JVM plus this Python process,
    the latter since the last :func:`reset_peak_rss`."""
    return (_status_kb(jvm_pid, "VmHWM") + _status_kb(os.getpid(), "VmHWM")) / 1024


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out: set[int] = set()
    todo = [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def await_exit(pids: set[int], timeout_s: float) -> None:
    """Wait for ``pids`` to end; SIGKILL whatever outlives the timeout
    and wait for that too."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
