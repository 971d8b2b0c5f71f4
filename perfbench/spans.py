"""Layer spans and counters recorded from the benchmark's own files.

The engine is not instrumented. The benchmark wraps the functions the
engine looks up at call time (module attributes, class attributes), and
counts Spark jobs and tasks per call through ``statusTracker()``. A span's
self time is its duration minus the time of the spans opened inside it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from collections import defaultdict
from typing import Callable, Dict, List


class Trace:
    """In-memory span and counter store for one benchmark run."""

    def __init__(self) -> None:
        self.active = False  # spans record only while active
        self.self_s: Dict[str, float] = defaultdict(float)  # span -> Σ self time
        self.total_s: Dict[str, float] = defaultdict(float)  # span -> Σ duration
        self.counts: Dict[str, float] = defaultdict(float)
        self._children: List[float] = []  # per open span: Σ child durations

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        self._children.append(0.0)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            child = self._children.pop()
            self.total_s[name] += dur
            self.self_s[name] += dur - child
            self.counts[name + ".calls"] += 1
            if self._children:
                self._children[-1] += dur

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return spanned


@contextlib.contextmanager
def patched(target, attr: str, replacement):
    """Set ``target.attr`` to ``replacement`` for the ``with`` body."""
    orig = getattr(target, attr)
    setattr(target, attr, replacement)
    try:
        yield orig
    finally:
        setattr(target, attr, orig)


class SparkCounter:
    """Jobs and tasks launched by a block, counted per job group."""

    _ids = itertools.count()

    def __init__(self, spark, drain: bool) -> None:
        self.sc = spark.sparkContext
        self.drain = drain  # count (traced runs) or only tag the jobs
        self.jobs: Dict[str, int] = defaultdict(int)
        self.tasks: Dict[str, int] = defaultdict(int)

    @contextlib.contextmanager
    def group(self, phase: str):
        """Tag the block's jobs with their own group; add their job and
        task counts to ``phase``."""
        gid = f"perfbench.{phase}.{next(self._ids)}"
        self.sc.setJobGroup(gid, phase)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench.idle", "idle")
        if self.drain:
            # the status store is fed by the async listener bus: drain it
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            tracker = self.sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(gid):
                self.jobs[phase] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    self.tasks[phase] += st.numCompletedTasks if st else 0
