"""Process-tree CPU, RSS and host steal, read from /proc.

The workload process leads its own session, and every process Spark
starts for it (the driver JVM, the PySpark daemon and its workers, the
input generator) stays in that session.  The PySpark daemon moves to a
process group of its own, so the session, not the process group, is
what covers the whole tree.  psutil is not installed, so this reads
/proc directly.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def session_pids(sid: int, live_only: bool = False) -> list[str]:
    """Pids in session `sid`; with live_only, zombies are left out
    (they have ended, and only their parent can still reap them)."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        f = _stat_fields(pid)
        # fields after comm: state ppid pgrp session ...
        if f is not None and int(f[3]) == sid \
                and not (live_only and f[0] == "Z"):
            out.append(pid)
    return out


def tree_cpu_s(sid: int) -> float:
    """utime+stime+cutime+cstime summed over the session, in seconds.

    A child that exits and is reaped between two readings moves its
    whole CPU into its parent's cutime/cstime, so the difference of two
    readings stays exact across worker restarts."""
    ticks = 0
    for pid in session_pids(sid):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat, counted from 1 with pid and comm
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def tree_rss_bytes(sid: int) -> int:
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # guest time is already included in user/nice
    return vals[7], sum(vals[:8])


class RssSampler:
    """Background thread that keeps the peak summed RSS of a session
    while `active` is set; `take_peak` returns it and starts over."""

    def __init__(self, sid: int, interval_s: float = 0.2):
        self.sid = sid
        self.interval_s = interval_s
        self.active = threading.Event()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(self.sid))

    def take_peak(self) -> int:
        peak, self.peak = self.peak, 0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
