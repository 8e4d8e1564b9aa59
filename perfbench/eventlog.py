"""Reader for Spark's JSON event log: per-job-group job, task, CPU, GC,
shuffle, spill and memory totals.

Spark writes one JSON object per line. Jobs carry the job group of the
thread that submitted them in ``Properties["spark.jobGroup.id"]``; a task
belongs to the job that submitted its stage. The log may be one file or a
rolled directory of ``events_<n>_*`` files (read in index order); it must
be uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Iterator
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    """Totals over the jobs of one job group. Times are seconds, sizes
    bytes; ``intervals`` are the jobs' (submit, complete) epoch seconds."""

    jobs: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    intervals: list = field(default_factory=list)


def event_files(path: str) -> list[str]:
    """The log's files in write order."""
    if os.path.isfile(path):
        return [path]
    files = glob.glob(os.path.join(path, "events_*"))

    def index(f: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(f))
        return int(m.group(1)) if m else 0

    return sorted(files, key=index)


def read_events(path: str) -> Iterator[dict]:
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def group_stats(path: str) -> dict[str | None, GroupStats]:
    """Job group id (``None`` for jobs without one) → totals."""
    out: dict[str | None, GroupStats] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
            out.setdefault(group, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                out[job_group[jid]].intervals.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            s = out[job_group[jid]]
            m = ev.get("Task Metrics") or {}
            s.tasks += 1
            s.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            s.task_run_s += m.get("Executor Run Time", 0) / 1000.0
            s.gc_s += m.get("JVM GC Time", 0) / 1000.0
            s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            s.peak_exec_mem_bytes = max(
                s.peak_exec_mem_bytes, m.get("Peak Execution Memory", 0)
            )
    return out


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
