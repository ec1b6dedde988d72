"""Process-tree accounting from ``/proc``: CPU, resident memory, host steal.

A benchmark run is one session (``setsid``): the worker interpreter, the
JVM it launches and the JVM's Python workers all share the session id, so
"the run's processes" is every ``/proc/<pid>`` whose session field matches.
CPU of children that already exited is counted through their parent's
``cutime``/``cstime`` once the parent has reaped them (the JVM reaps the
Python daemon, the daemon reaps its forked workers).
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
    except OSError:  # the process exited between listdir and open
        return None
    # comm (field 2) may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def _session(sid: int, running: bool = True):
    """(pid, stat fields after comm) of every process in session ``sid``;
    with ``running``, zombies are left out."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(name)
        # after comm: [0]=state [1]=ppid [2]=pgrp [3]=session
        if (fields is not None and int(fields[3]) == sid
                and not (running and fields[0] == "Z")):
            yield int(name), fields


def session_pids(sid: int) -> list[int]:
    """Pids of session ``sid`` that are still running."""
    return [pid for pid, _ in _session(sid)]


def tree_cpu_s(sid: int) -> float:
    """User + system CPU seconds of the session. Exited children count
    through their parent's cutime/cstime once reaped, and as zombies
    until then."""
    # utime, stime, cutime, cstime are stat fields 14-17
    return sum(sum(int(x) for x in f[11:15])
               for _, f in _session(sid, running=False)) / _TICK


def tree_rss_mb(sid: int) -> float:
    """Summed resident set of the session's processes, in MiB."""
    # rss (pages) is stat field 24
    return sum(int(f[21]) for _, f in _session(sid)) * _PAGE / 2**20


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host from the aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


class PeakRss:
    """Background sampler of the session's summed RSS; ``peak_mb`` is the
    largest sample. Use as a context manager so the thread always stops."""

    INTERVAL_S = 0.2

    def __init__(self, sid: int) -> None:
        self.sid = sid
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.sid))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
