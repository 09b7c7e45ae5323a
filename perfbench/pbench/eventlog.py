"""Fold an uncompressed Spark event log into per-job-group rows.

Every public call the benchmark makes runs under its own job group
(``spark.jobGroup.id``).  ``JobStart`` carries the group in its properties
and the ids of the job's stages, so each ``StageSubmitted`` and ``TaskEnd``
maps back to the call that caused it.
"""

from __future__ import annotations

import json
import os

GROUP_PROP = "spark.jobGroup.id"

# per-group sums; times in seconds, sizes in bytes
FIELDS = ("jobs", "stages", "tasks", "job_s", "executor_run_s",
          "executor_cpu_s", "gc_s", "records_read", "shuffle_bytes",
          "spill_bytes")


def _empty() -> dict:
    return {f: 0 for f in FIELDS}


def _union_seconds(intervals) -> float:
    """Length of the union of ``(start_ms, end_ms)`` intervals, in seconds."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def fold(lines) -> dict[str, dict]:
    """``group -> row`` over the event-log ``lines`` (JSON, one per line).
    Jobs without a group are folded under ``None``.  ``job_s`` is the union
    of the group's job intervals, so overlapping jobs count once."""
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    intervals: dict[str | None, list] = {}
    rows: dict[str | None, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROP)
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev.get("Submission Time", 0)
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            rows.setdefault(group, _empty())["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                intervals.setdefault(job_group[jid], []).append(
                    (job_start[jid], ev.get("Completion Time", job_start[jid])))
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_group:
                rows[stage_group[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid not in stage_group:
                continue
            row = rows[stage_group[sid]]
            row["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            inp = m.get("Input Metrics") or {}
            shr = m.get("Shuffle Read Metrics") or {}
            shw = m.get("Shuffle Write Metrics") or {}
            row["records_read"] += (inp.get("Records Read", 0)
                                    + shr.get("Total Records Read", 0))
            row["shuffle_bytes"] += (shr.get("Remote Bytes Read", 0)
                                     + shr.get("Local Bytes Read", 0)
                                     + shw.get("Shuffle Bytes Written", 0))
            row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for group, iv in intervals.items():
        rows.setdefault(group, _empty())["job_s"] = _union_seconds(iv)
    return rows


def event_files(path: str) -> list[str]:
    """The files of one application's log: ``path`` itself, or for the
    rolling layout (Spark 4's default) the ``events_<n>_<app>`` files of
    the ``eventlog_v2_<app>`` directory in order."""
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def fold_path(path: str) -> dict[str, dict]:
    def lines():
        for f in event_files(path):
            with open(f, encoding="utf-8") as fh:
                yield from fh
    return fold(lines())
