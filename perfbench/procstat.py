"""CPU and resident-memory counters for the benchmark's own process tree.

The engine runs in three kinds of process: this Python driver, the JVM
that pyspark launches, and the pyspark Python daemon with its workers.
A cgroup counter cannot be used: where ``cpuacct`` is mounted at the
root it counts the whole machine. So the counters walk ``/proc``:

- every descendant of this process is tracked by identity (pid plus
  start time, so a reused pid is not confused with a dead one) from
  the first time a sample sees it, and stays tracked after it is
  reparented — a pyspark worker whose parent died still counts;
- a process's CPU is its own ``utime + stime`` at its last sample (the
  children fields are not used: a reaped child's time moves into its
  parent's, which would count it twice);
- the HTTP stub is excluded by pid with everything below it.

A sampler thread refreshes the table every ``period`` seconds, which
also tracks the peak of the summed resident size of the JVM and the
pyspark processes. ``snapshot()`` samples once more on the caller's
thread, so a reading taken at an iteration boundary is current.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
KINDS = ("driver", "jvm", "pyworker")


def _stat(pid: int) -> tuple[str, int, int, int, int] | None:
    """(comm, ppid, cpu ticks, start time, rss pages) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses: split at the last ')'
    head, _, rest = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = rest.split()
    # fields[0] is state (field 3 of stat); utime/stime are fields 14/15,
    # starttime 22, rss 24 (1-based)
    ppid = int(fields[1])
    ticks = int(fields[11]) + int(fields[12])
    start = int(fields[19])
    rss = int(fields[21])
    return comm, ppid, ticks, start, rss


class ProcessTree:
    """CPU seconds by process kind and peak RSS of the engine processes."""

    def __init__(self, period: float = 0.25) -> None:
        self._root = os.getpid()
        self._excluded: set[int] = set()
        self._lock = threading.Lock()
        # (pid, start) -> [kind, last cpu ticks]
        self._procs: dict[tuple[int, int], list] = {}
        self.peak_rss_bytes = 0
        self.peak_by_kind = {"jvm": 0, "pyworker": 0}
        self._period = period
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def exclude(self, pid: int) -> None:
        """Leave ``pid`` and its descendants out of every counter."""
        with self._lock:
            self._excluded.add(pid)

    def start(self) -> None:
        self._thread = threading.Thread(
            target=self._run, name="procstat", daemon=True
        )
        self._thread.start()

    def close(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self.sample()

    def sample(self) -> None:
        table: dict[int, tuple] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    table[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in table.items():
            children.setdefault(st[1], []).append(pid)
        with self._lock:
            # descendants of the benchmark process, minus excluded subtrees
            live = set()
            todo = [self._root]
            while todo:
                pid = todo.pop()
                if pid in self._excluded or pid in live:
                    continue
                live.add(pid)
                todo.extend(children.get(pid, ()))
            # processes tracked earlier that were reparented stay counted
            for pid, start in list(self._procs):
                st = table.get(pid)
                if st is not None and st[3] == start:
                    live.add(pid)
            by_kind = {"jvm": 0, "pyworker": 0}
            for pid in live:
                st = table.get(pid)
                if st is None:
                    continue
                comm, _ppid, ticks, start, pages = st
                key = (pid, start)
                entry = self._procs.get(key)
                # a launcher script exec()s into the JVM keeping its pid,
                # so a process first seen under another name is looked
                # at again
                if entry is None or entry[0] is None:
                    kind = (
                        "driver"
                        if pid == self._root
                        else "jvm"
                        if comm == "java"
                        else "pyworker"
                        if comm.startswith("python")
                        else None
                    )
                    entry = self._procs[key] = [kind, ticks]
                entry[1] = ticks
                if entry[0] in by_kind:
                    by_kind[entry[0]] += pages * _PAGE
            rss = sum(by_kind.values())
            self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
            for k, v in by_kind.items():
                self.peak_by_kind[k] = max(self.peak_by_kind[k], v)

    def snapshot(self) -> dict[str, float]:
        """CPU seconds by kind since the processes started."""
        self.sample()
        out = dict.fromkeys(KINDS, 0.0)
        with self._lock:
            for kind, ticks in self._procs.values():
                if kind is not None:
                    out[kind] += ticks / _TICK
        return out

    def pids(self) -> list[int]:
        """Tracked engine processes that are still alive."""
        with self._lock:
            keys = [k for k, v in self._procs.items() if v[0] != "driver"]
        alive = []
        for pid, start in keys:
            st = _stat(pid)
            if st is not None and st[3] == start:
                alive.append(pid)
        return alive


def delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in KINDS}
