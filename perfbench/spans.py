"""In-memory spans around calls into the program, from outside it.

A span records name, start, end, parent and thread. When Spark
attribution is on, opening a span sets the Spark job group of the
calling thread to the span's id (``pb<id>``) and closing it restores the
enclosing span's group on that thread, so the event-log folder can
charge every job, stage and task to the span that caused it. Spans are
kept in memory and written out only when the run ends.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        """sc: the SparkContext whose job groups the spans set; None
        records timestamps only (the untraced run)."""
        self._sc = sc
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[dict] = []

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _set_group(self, span: dict | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                "spark.jobGroup.id", None if span is None else f"pb{span['id']}"
            )

    def open(self, name: str, parent: dict | None = None, **attrs) -> dict:
        """Start a span on this thread. Its parent defaults to the
        innermost open span of the thread."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            span = {
                "id": len(self.spans),
                "name": name,
                "parent": None if parent is None else parent["id"],
                "thread": threading.current_thread().name,
                "start": time.perf_counter(),
                "end": None,
                **attrs,
            }
            self.spans.append(span)
        stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        stack = self._stack()
        stack.remove(span)
        self._set_group(stack[-1] if stack else None)

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        s = self.open(name, parent, **attrs)
        try:
            yield s
        finally:
            self.close(s)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that child
    spans (on any thread) cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cursor = 0.0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], cursor), min(c["end"], hi)
            if b > a:
                covered += b - a
                cursor = b
        out[s["id"]] = (hi - lo) - covered
    return out


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """root and every span below it."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


class CrawlProbe:
    """Wraps one CrawlEngine and its SnapshotStore by instance attribute,
    leaving the program untouched.

    A round span opens when ``run_round`` is called and stays open until
    the next call or until ``run`` returns, so round durations are the
    gaps between consecutive ``run_round`` starts. ``write_dataset`` and
    ``commit_round`` spans are children of the round they write, in
    whichever thread calls them."""

    def __init__(self, tracer: Tracer, engine, store, label: str):
        self.tracer = tracer
        self.label = label
        self.rounds: dict[int, dict] = {}
        self._open_round: dict | None = None
        self.run_span: dict | None = None
        self._wrap(engine, store)

    def _wrap(self, engine, store) -> None:
        tr = self.tracer
        run, run_round = engine.run, engine.run_round
        write_dataset, commit_round = store.write_dataset, store.commit_round

        def traced_run(*args, **kwargs):
            self.run_span = tr.open(f"engine.run.{self.label}")
            try:
                return run(*args, **kwargs)
            finally:
                self._end_round()
                tr.close(self.run_span)

        def traced_run_round(frontier, shards, round_no, *args, **kwargs):
            self._end_round()
            self._open_round = self.rounds[round_no] = tr.open(
                "engine.round", self.run_span, round=round_no
            )
            with tr.span("engine.run_round", round=round_no):
                return run_round(frontier, shards, round_no, *args, **kwargs)

        def traced_write(round_no, name, df):
            with tr.span(
                f"checkpoint.write.{name}", self.rounds.get(round_no), round=round_no
            ):
                return write_dataset(round_no, name, df)

        def traced_commit(round_no, *args, **kwargs):
            with tr.span("checkpoint.commit", self.rounds.get(round_no), round=round_no):
                return commit_round(round_no, *args, **kwargs)

        engine.run, engine.run_round = traced_run, traced_run_round
        store.write_dataset, store.commit_round = traced_write, traced_commit

    def _end_round(self) -> None:
        if self._open_round is not None:
            self.tracer.close(self._open_round)
            self._open_round = None
