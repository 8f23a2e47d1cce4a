# -*- coding: utf-8 -*-
"""Spans around the benchmark's calls into program layers, joined
with Spark's own event log.

Each span sets a Spark job group of its own, so every job the layer
call submits carries the span's id. After the session stops, the
event log (uncompressed, non-rolling, traced runs only) is folded per
job group into jobs, executor run time, GC time and shuffle bytes.
Spans nest; a layer's time is its spans' self time, i.e. the span's
wall minus the part its child spans cover.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans = []      # finished: dict(id, name, parent, wall, child)
        self._stack = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        sid = "pb%d" % (len(self.spans) + len(self._stack))
        rec = {"id": sid, "name": name, "wall": 0.0, "child": 0.0,
               "parent": self._stack[-1]["id"] if self._stack else None}
        self._stack.append(rec)
        sc.setJobGroup(sid, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - t0
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child"] += rec["wall"]
                sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def top_level_wall(self) -> float:
        return sum(s["wall"] for s in self.spans if s["parent"] is None)

    def layers(self, groups: dict) -> dict:
        """Per span name: self seconds plus the Spark counters of the
        jobs submitted while that span was innermost."""
        out = {}
        for s in self.spans:
            row = out.setdefault(s["name"], {
                "s": 0.0, "jobs": 0, "executor_run_s": 0.0, "gc_s": 0.0,
                "shuffle_bytes": 0, "max_task_shuffle_bytes": 0})
            row["s"] += s["wall"] - s["child"]
            g = groups.get(s["id"])
            if g:
                row["jobs"] += g["jobs"]
                row["executor_run_s"] += g["run_ms"] / 1000.0
                row["gc_s"] += g["gc_ms"] / 1000.0
                row["shuffle_bytes"] += g["shuffle_write"]
                row["max_task_shuffle_bytes"] = max(
                    row["max_task_shuffle_bytes"], g["max_task_read"])
        return out


def fold_event_log(log_dir: str) -> dict:
    """job group id -> counters, from the (single) finished event log
    in ``log_dir``. Call after the session has stopped."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError("expected one finished event log in %s, found %r"
                           % (log_dir, files))
    stage_group, groups = {}, {}

    def grp(gid):
        return groups.setdefault(gid, {
            "jobs": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
            "max_task_read": 0})

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid:
                    grp(gid)["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_group[st] = gid
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if not gid or not tm:
                    continue
                g = grp(gid)
                g["run_ms"] += tm.get("Executor Run Time", 0)
                g["gc_ms"] += tm.get("JVM GC Time", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                read = (sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0))
                g["max_task_read"] = max(g["max_task_read"], read)
    return groups
