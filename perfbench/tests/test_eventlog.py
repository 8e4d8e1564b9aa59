"""The event-log reader on a tiny checked-in log.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data", "tiny_eventlog.json")


def test_jobs_and_tasks_attributed_to_their_group():
    g = eventlog.group_stats(LOG)
    assert set(g) == {"t0:parse:call", "t0:parse:write", None, "6f1c0d3e-run-id"}

    call = g["t0:parse:call"]
    assert (call.jobs, call.tasks) == (1, 2)
    assert call.task_cpu_s == pytest.approx(0.3)
    assert call.task_run_s == pytest.approx(0.45)
    assert call.gc_s == pytest.approx(0.01)
    assert call.shuffle_write_bytes == 1500
    assert call.peak_exec_mem_bytes == 4096
    assert call.intervals == [(1000.0, 1000.4)]

    # the skipped stage 1 runs no task; stage 2's task belongs to job 1
    write = g["t0:parse:write"]
    assert (write.jobs, write.tasks, write.spill_bytes) == (1, 1, 64)
    assert g[None].tasks == 1
    assert g["6f1c0d3e-run-id"].shuffle_write_bytes == 200


def test_union_of_job_walls():
    assert eventlog.union_seconds([]) == 0.0
    assert eventlog.union_seconds([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert eventlog.union_seconds([(0, 10), (2, 3)]) == pytest.approx(10.0)
    walls = [iv for s in eventlog.group_stats(LOG).values() for iv in s.intervals]
    assert eventlog.union_seconds(walls) == pytest.approx(0.4 + 0.7 + 0.1)


def test_rolled_directory_read_in_index_order(tmp_path):
    with open(LOG) as fh:
        lines = fh.readlines()
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    # events_10 sorts before events_2 as text; the reader must not
    for name, chunk in (("events_1_app", lines[:5]), ("events_2_app", lines[5:9]),
                        ("events_10_app", lines[9:])):
        (d / name).write_text("".join(chunk))
    (d / "appstatus_app").write_text("")
    assert [os.path.basename(f) for f in eventlog.event_files(str(d))] == [
        "events_1_app", "events_2_app", "events_10_app"]
    assert eventlog.group_stats(str(d)) == eventlog.group_stats(LOG)
    shutil.rmtree(d)
