"""Unit tests for the event-log folder and span self times.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
from spans import self_times, subtree  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog")


def test_rolled_log_files_in_index_order():
    names = [os.path.basename(p) for p in eventlog.log_files(FIXTURE)]
    assert names == ["events_1_local-0001", "events_2_local-0001"]


def test_fold_attributes_jobs_stages_tasks_and_metrics_per_group():
    by_group = eventlog.fold(eventlog.read_events(FIXTURE))
    g = by_group["pb1"]
    assert (g.jobs, g.stages, g.tasks) == (1, 2, 4)  # one task ended without metrics
    assert g.executor_run_s == pytest.approx(0.6)
    assert g.jvm_cpu_s == pytest.approx(0.22)
    assert g.non_jvm_s == pytest.approx(0.38)
    assert g.gc_s == pytest.approx(0.015)
    assert g.shuffle_write_bytes == 1500
    assert g.shuffle_read_bytes == 500
    assert g.spill_bytes == 64


def test_fold_keeps_unattributed_work_and_jobs_without_stages():
    by_group = eventlog.fold(eventlog.read_events(FIXTURE))
    none = by_group[None]
    assert (none.jobs, none.stages, none.tasks) == (1, 1, 1)
    assert none.executor_run_s == pytest.approx(0.05)
    assert by_group["pb7"].jobs == 1 and by_group["pb7"].tasks == 0


def test_counters_add():
    a = eventlog.Counters(jobs=1, executor_run_s=1.0)
    a.add(eventlog.Counters(jobs=2, jvm_cpu_s=0.25))
    assert a.as_dict()["jobs"] == 3
    assert a.as_dict()["non_jvm_s"] == pytest.approx(0.75)


def test_self_time_subtracts_covered_child_intervals_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past the parent
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert sorted(s["id"] for s in subtree(spans, spans[1])) == [1, 4]
