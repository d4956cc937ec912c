"""Spans around calls into the program, joined to Spark's event log.

Each span records (name, start, end, parent) in memory and runs its call
under its own Spark job group. After the run, the JSON-lines event log
Spark wrote to a local directory is read back: a job belongs to the span
whose job group it carries; a job that carries no span's group (the
streaming engine sets its own) belongs to the innermost span whose time
window holds the job's submission. Task-end records give CPU, GC, shuffle
and spill per job.

A *sticky* span wraps a function that returns a lazy DataFrame: its job
group stays set after the call returns, so the action that later runs the
plan is charged to it. Its time is the call's wall plus the walls of the
jobs charged to it after the call returned.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager


def _event_lines(app: str):
    """The JSON lines of one application's event log: a single file, or a
    rolling-log directory of ``events_<n>_*`` files."""
    if os.path.isdir(app):
        parts = glob.glob(f"{app}/events_*")
        paths = sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        paths = [app]
    for path in paths:
        with open(path) as fh:
            yield from fh


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._paused = False
        self._patched: list[tuple[object, str, object]] = []
        self.jobs: list[dict] = []

    # ---- recording -------------------------------------------------------
    @contextmanager
    def paused(self):
        self._paused, prev = True, self._paused
        try:
            yield
        finally:
            self._paused = prev

    @contextmanager
    def span(self, name: str, sticky: bool = False):
        if not self.enabled or self._paused:
            yield None
            return
        from pyspark import SparkContext

        with self._lock:
            sid = len(self.spans)
            s = {"id": sid, "name": name, "start": time.time(), "end": None,
                 "parent": self._stack[-1]["id"] if self._stack else None,
                 "group": f"bench-span-{sid}", "sticky": sticky}
            self.spans.append(s)
            self._stack.append(s)
        sc = SparkContext._active_spark_context
        prev = None
        if sc is not None:
            prev = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(s["group"], name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            with self._lock:
                self._stack.remove(s)
            sc = SparkContext._active_spark_context
            if sc is not None and not sticky:
                group, desc = prev or (None, None)
                sc.setLocalProperty("spark.jobGroup.id", group)
                sc.setLocalProperty("spark.job.description", desc)

    def wrap(self, owner, attr: str, name, sticky: bool = False) -> None:
        """Replace ``owner.attr`` by a spanned call. ``name`` is a string
        or a function of the call's arguments."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label, sticky=sticky):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- event-log join --------------------------------------------------
    def load_event_log(self, log_dir: str) -> None:
        """Read every application's event log under ``log_dir`` and charge
        each job to a span."""
        by_group = {s["group"]: s for s in self.spans}
        for app in sorted(glob.glob(f"{log_dir}/*")):
            jobs, stage_job = {}, {}
            for line in _event_lines(app):
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = {"submit": ev["Submission Time"] / 1000.0, "end": None,
                         "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                         "cpu_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
                         "tasks": 0}
                    jobs[ev["Job ID"]] = j
                    for st in ev.get("Stage IDs", []):
                        stage_job[st] = j
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = stage_job.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    j["tasks"] += 1
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    j["shuffle_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                                        + wr.get("Shuffle Bytes Written", 0)) / 2**20
                    j["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 2**20
            for j in jobs.values():
                s = by_group.get(j["group"]) or self._span_at(j["submit"])
                j["span"] = s["id"] if s else None
                if j["end"] is None:
                    j["end"] = j["submit"]
                self.jobs.append(j)

    def _span_at(self, t: float):
        inside = [s for s in self.spans if s["end"] and s["start"] <= t <= s["end"]]
        return max(inside, key=lambda s: s["start"]) if inside else None

    # ---- per-layer figures -----------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def _subtree(self, s: dict) -> set[int]:
        ids, grew = {s["id"]}, True
        while grew:
            grew = False
            for c in self.spans:
                if c["parent"] in ids and c["id"] not in ids:
                    ids.add(c["id"])
                    grew = True
        return ids

    def wall(self, s: dict) -> float:
        """Call wall plus the walls of the span's own jobs that ran after
        the call returned (the actions a lazy result fed)."""
        late = sum(j["end"] - j["submit"] for j in self.jobs
                   if j["span"] == s["id"] and j["submit"] >= s["end"])
        return (s["end"] - s["start"]) + late

    def totals(self, spans: list[dict]) -> dict:
        """Wall, job count and task metrics of the spans, each with the
        jobs of its whole subtree."""
        ids = set()
        for s in spans:
            ids |= self._subtree(s)
        jobs = [j for j in self.jobs if j["span"] in ids]
        return {
            "wall_s": sum(self.wall(s) for s in spans),
            "jobs": len(jobs),
            "cpu_s": sum(j["cpu_s"] for j in jobs),
            "gc_s": sum(j["gc_s"] for j in jobs),
            "shuffle_mb": sum(j["shuffle_mb"] for j in jobs),
            "spill_mb": sum(j["spill_mb"] for j in jobs),
        }

    def dump(self, path: str, layers: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"layers": layers, "spans": self.spans, "jobs": self.jobs}, fh, indent=1)
