"""Fold a Spark event log into per-job-group counters.

Spark 4.1 writes an uncompressed event log either as one JSON-lines
file or, with rolling on, as an ``eventlog_v2_<app>/events_<n>_<app>``
directory. Jobs and stages carry the submitting thread's local
properties, so the ``spark.jobGroup.id`` a benchmark span sets names the
span that caused them. Tasks are attributed through their stage. Work
under no job group is kept under the ``None`` key, never dropped.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterator
from dataclasses import dataclass, fields

GROUP_KEY = "spark.jobGroup.id"
_EVENTS_RE = re.compile(r"^events_(\d+)_")


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0

    @property
    def non_jvm_s(self) -> float:
        """Task run time not spent on JVM CPU: Python workers plus I/O
        and lock waits."""
        return self.executor_run_s - self.jvm_cpu_s

    def add(self, other: "Counters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))

    def as_dict(self) -> dict:
        d = {f.name: getattr(self, f.name) for f in fields(self)}
        d["non_jvm_s"] = self.non_jvm_s
        return d


def log_files(log_dir: str) -> list[str]:
    """Event files of the single application logged under ``log_dir``,
    in write order."""
    entries = sorted(os.listdir(log_dir))
    apps = [e for e in entries if not e.startswith(".") and not e.endswith(".inprogress")]
    if len(apps) != 1:
        raise ValueError(f"expected one application log in {log_dir}, found {entries}")
    path = os.path.join(log_dir, apps[0])
    if not os.path.isdir(path):
        return [path]
    parts = [(int(m.group(1)), f) for f in os.listdir(path) if (m := _EVENTS_RE.match(f))]
    return [os.path.join(path, f) for _, f in sorted(parts)]


def read_events(log_dir: str) -> Iterator[dict]:
    for path in log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold(events) -> dict[str | None, Counters]:
    """Counters per job group id (``None`` for unattributed work)."""
    out: dict[str | None, Counters] = {}
    stage_group: dict[tuple[int, int], str | None] = {}

    def bucket(group: str | None) -> Counters:
        return out.setdefault(group, Counters())

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            bucket((e.get("Properties") or {}).get(GROUP_KEY)).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            group = (e.get("Properties") or {}).get(GROUP_KEY)
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
            bucket(group).stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
            c = bucket(group)
            c.tasks += 1
            m = e.get("Task Metrics")
            if not m:  # killed or failed before reporting metrics
                continue
            c.executor_run_s += m["Executor Run Time"] / 1e3
            c.jvm_cpu_s += m["Executor CPU Time"] / 1e9
            c.gc_s += m["JVM GC Time"] / 1e3
            c.spill_bytes += m["Disk Bytes Spilled"]
            sw = m.get("Shuffle Write Metrics") or {}
            c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    return out
