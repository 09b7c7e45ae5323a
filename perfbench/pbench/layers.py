"""Timing of public store calls from outside the engine.

Each call runs under its own Spark job group.  The recorder splits its wall
time into ``plan_s`` (the call itself, which returns a lazy DataFrame for the
read operations) and ``exec_s`` (collecting the result), and afterwards reads
the group's job, stage and task counts through ``statusTracker``.  Write
calls are their own action, so their whole time is ``exec_s``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from . import stats

# phases of a run; only "timed" calls feed the end-to-end metrics
SETUP, WARMUP, TIMED, CHECK = "setup", "warmup", "timed", "check"


@dataclass
class Call:
    layer: str           # <module>.<op>
    phase: str
    group: str           # Spark job group the call ran under
    plan_s: float | None
    exec_s: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    bytes_written: int | None = None
    user_bytes: int | None = None
    data_files: int | None = None
    extra: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.plan_s or 0.0) + self.exec_s


class Recorder:
    """Runs and records public calls; one per Spark session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.calls: list[Call] = []

    def _drain_listener_bus(self) -> None:
        # job/stage status reaches the tracker through the asynchronous
        # listener bus; wait until it has caught up before reading counts
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _counts(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                s = self.tracker.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        return len(jobs), stages, tasks

    def run(self, layer: str, phase: str, call, collect=None,
            store: str | None = None, user_bytes: int | None = None):
        """Time ``call()`` and, for reads, ``collect(result)``; returns
        ``(Call, value)``.  With ``store`` the call is a write: the files
        under it are snapshotted around the call to count bytes written and
        data files left behind."""
        group = f"pb{len(self.calls):04d}:{layer}"
        before = stats.snapshot(store) if store else None
        self.sc.setJobGroup(group, layer)
        try:
            t0 = time.perf_counter()
            value = call()
            t1 = time.perf_counter()
            if collect is not None:
                value = collect(value)
            t2 = time.perf_counter()
        finally:
            self.sc._jsc.clearJobGroup()
        if collect is None:
            rec = Call(layer, phase, group, None, t2 - t0)
        else:
            rec = Call(layer, phase, group, t1 - t0, t2 - t1)
        self._drain_listener_bus()
        rec.jobs, rec.stages, rec.tasks = self._counts(group)
        if store:
            rec.bytes_written = stats.bytes_written(before,
                                                    stats.snapshot(store))
            rec.user_bytes = user_bytes
            rec.data_files = stats.data_file_count(store)
        self.calls.append(rec)
        return rec, value
