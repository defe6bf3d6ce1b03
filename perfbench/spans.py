"""Tracing from outside the program: spans around the calls into each
layer, the streaming progress JSON, and the Spark event log.

Everything here is installed by the benchmark around the program's
public functions; nothing in the program is edited. Spans are kept in
memory and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent id,
    attributes); the parent is the innermost open span of the calling
    thread, or the one passed explicitly for work handed to threads."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._undo: list = []
        self.enabled = False

    def _current(self):
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = attrs.pop("parent", None) or self._current()
        stack = self._local.__dict__.setdefault("stack", [])
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            rec = {"id": sid, "name": name, "start": start, "end": end, "parent": parent}
            rec.update(attrs)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name, parent_from=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper; ``name`` is a
        string or a function of the call's arguments."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            parent = parent_from() if parent_from else None
            with tracer.span(label, parent=parent):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["start"] >= since]

    def self_ms(self, span: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"] - covered) * 1000.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class ProgressRecorder(StreamingQueryListener):
    """Keeps every progress event with its arrival time (epoch s)."""

    def __init__(self) -> None:
        self.events: list[tuple[float, dict]] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        arrived = time.time()
        progress = json.loads(event.progress.json)
        with self._lock:
            self.events.append((arrived, progress))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def data_batches(self, query_id: str | None = None) -> list[tuple[float, dict]]:
        with self._lock:
            return [
                (t, p)
                for t, p in self.events
                if p.get("numInputRows", 0) > 0
                and (query_id is None or p.get("id") == query_id)
            ]


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single, uncompressed) event log in ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def job_totals(events: list[dict], start: float, end: float) -> dict:
    """Totals of the jobs submitted in [start, end] (epoch seconds):
    jobs, stages, tasks, task CPU, GC, shuffle, spill, slowest task and
    the summed wall of their stages' (overlap-merged) lifetimes."""
    lo, hi = start * 1000.0, end * 1000.0
    jobs = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart" and lo <= e["Submission Time"] <= hi:
            jobs[e["Job ID"]] = e.get("Stage IDs", [])
    stage_ids = {s for ids in jobs.values() for s in ids}
    out = {
        "jobs": len(jobs),
        "stages": 0,
        "tasks": 0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_mb": 0.0,
        "spill_mb": 0.0,
        "max_task_s": 0.0,
        "stage_wall_s": 0.0,
    }
    intervals = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stage_ids and "Submission Time" in info:
                out["stages"] += 1
                intervals.append((info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids:
            m = e.get("Task Metrics") or {}
            ti = e["Task Info"]
            out["tasks"] += 1
            out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            out["shuffle_mb"] += sw / 1e6
            out["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
            out["max_task_s"] = max(
                out["max_task_s"], (ti["Finish Time"] - ti["Launch Time"]) / 1e3
            )
    merged_end = None
    for s, e in sorted(intervals):
        if merged_end is None or s > merged_end:
            out["stage_wall_s"] += (e - s) / 1e3
            merged_end = e
        elif e > merged_end:
            out["stage_wall_s"] += (e - merged_end) / 1e3
            merged_end = e
    return out
