"""In-memory span recorder with Spark job counts.

A span records its name, start and end (``time.perf_counter`` seconds
from the recorder's creation), its parent span, the iteration it belongs
to, and the Spark jobs that ran while it was open. Each span tags the
calling thread with its own job group (``SparkContext.setJobGroup``);
at the end the span takes the jobs ``statusTracker()`` lists for that
group, plus the untagged jobs that appeared meanwhile — jobs a library
submits from its own thread pool or the streaming thread carry no
group — plus its child spans' jobs. Stage and task counts per job are
resolved in ``resolve()``, after the timed part of an iteration.

Spans may open on several threads at once (a sink's work overlapped on
a thread pool). Each thread keeps its own stack of open spans; a span
opened on a thread with none open names its parent explicitly, or has
none.

A disabled recorder (``enabled=False``) yields ``None`` from ``span``,
makes no Spark calls and records nothing.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections.abc import Iterator
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    iteration: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: set[int] = field(default_factory=set)
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, sc=None, enabled: bool = True) -> None:
        self.enabled = enabled
        self._sc = sc
        self._t0 = time.perf_counter()
        self.spans: list[Span] = []
        self.iteration = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._stage_cache: dict[int, tuple[int, int, int]] = {}

    def _untagged(self) -> set[int]:
        return set(self._sc.statusTracker().getJobIdsForGroup(None))

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None) -> Iterator[Span | None]:
        """Open span ``name`` on the calling thread; its parent is
        ``parent`` if given, else the innermost span open on this thread."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = self.spans[stack[-1]]
        with self._lock:
            idx = len(self.spans)
            sp = Span(
                idx, name, self.iteration,
                parent.id if parent is not None else None,
                time.perf_counter() - self._t0,
            )
            self.spans.append(sp)
        sc = self._sc
        group = f"perfbench-{idx}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        before = self._untagged()
        sc.setJobGroup(group, name)
        stack.append(idx)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter() - self._t0
            sc.setLocalProperty("spark.jobGroup.id", prev)
            sp.jobs.update(sc.statusTracker().getJobIdsForGroup(group))
            sp.jobs.update(self._untagged() - before)
            if sp.parent is not None:
                with self._lock:
                    self.spans[sp.parent].jobs.update(sp.jobs)

    def resolve(self) -> None:
        """Fill stage and task counts of this iteration's spans."""
        if not self.enabled:
            return
        tracker = self._sc.statusTracker()
        for sp in self.spans:
            if sp.iteration != self.iteration:
                continue
            seen: set[int] = set()
            for job in sorted(sp.jobs):
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info is not None else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    if sid not in self._stage_cache:
                        st = tracker.getStageInfo(sid)
                        done = st.numCompletedTasks if st is not None else 0
                        failed = st.numFailedTasks if st is not None else 0
                        self._stage_cache[sid] = (
                            int(done + failed > 0), done + failed, failed
                        )
                    ran, tasks, failed = self._stage_cache[sid]
                    sp.stages += ran
                    sp.tasks += tasks
                    sp.failed_tasks += failed

    def of(self, name: str) -> list[Span]:
        """This iteration's spans called ``name``."""
        return [
            s for s in self.spans
            if s.name == name and s.iteration == self.iteration
        ]

    def total(self, name: str, attr: str = "seconds") -> float:
        """Sum of ``attr`` over this iteration's spans called ``name``."""
        return float(sum(getattr(s, attr) for s in self.of(name)))

    def jobs(self, name: str) -> int:
        out: set[int] = set()
        for s in self.of(name):
            out |= s.jobs
        return len(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "iteration": s.iteration,
                    "parent": s.parent, "start": round(s.start, 6),
                    "end": round(s.end, 6), "jobs": len(s.jobs),
                    "stages": s.stages, "tasks": s.tasks,
                    "failed_tasks": s.failed_tasks,
                }) + "\n")
