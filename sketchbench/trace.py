"""Tracing for the traced run: in-memory spans, self time, and Spark
job/stage/task counters read back from an event log that is attached
only while a traced operation runs.

The event log is a Spark ``EventLoggingListener`` added to and removed
from the live listener bus, so the untraced operations of the same run
(and every untraced run) execute with no event logging at all.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Spans:
    """Spans kept in memory: name, start, end, parent, op id."""

    def __init__(self):
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str):
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": None, "start": time.time(), "end": None}
        self.spans.append(rec)
        try:
            yield rec["id"]
        finally:
            rec["end"] = time.time()

    def add(self, name, op, start, end, parent=None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "op": op,
                           "parent": parent, "start": start, "end": end})
        return len(self.spans) - 1

    def self_time(self, span_id: int) -> float:
        """Duration minus the part of it covered by child spans."""
        s = self.spans[span_id]
        kids = [(c["start"], c["end"]) for c in self.spans
                if c["parent"] == span_id]
        return (s["end"] - s["start"]) - covered(kids, s["start"], s["end"])


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class EventLog:
    """An uncompressed, single-file Spark event log that can be switched
    on and off around individual operations."""

    def __init__(self, spark, log_dir: str):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jvm = sc._jvm
        os.makedirs(log_dir, exist_ok=True)
        self.dir = log_dir
        conf = (jsc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        self._bus = jsc.listenerBus()
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            conf, jsc.hadoopConfiguration())
        self._listener.start()
        self._attached = False

    def attach(self) -> None:
        self._bus.addToEventLogQueue(self._listener)
        self._attached = True

    def detach(self) -> None:
        if self._attached:
            self._bus.waitUntilEmpty()  # deliver the operation's last events
            self._bus.removeListener(self._listener)
            self._attached = False

    def close(self) -> list[dict]:
        """Stop logging and return every logged event."""
        self.detach()
        self._listener.stop()
        events = []
        for name in sorted(os.listdir(self.dir)):
            with open(os.path.join(self.dir, name)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
        return events


def by_job_group(events: list[dict]) -> dict:
    """Per job group: its jobs (start, end in epoch seconds) and the
    completed stages and finished tasks of those jobs."""
    groups: dict = {}
    job_group: dict = {}
    stage_group: dict = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            job_group[ev["Job ID"]] = g
            rec = groups.setdefault(g, {"jobs": {}, "stages": {},
                                        "tasks": []})
            rec["jobs"][ev["Job ID"]] = [ev["Submission Time"] / 1e3, None]
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
            g = job_group[ev["Job ID"]]
            groups[g]["jobs"][ev["Job ID"]][1] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is not None and "Completion Time" in info:
                groups[g]["stages"][info["Stage ID"]] = {
                    "tasks": info["Number of Tasks"],
                    "start": info["Submission Time"] / 1e3,
                    "end": info["Completion Time"] / 1e3,
                    "reduce": bool(info.get("Parent IDs")),
                }
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            w = m.get("Shuffle Write Metrics") or {}
            groups[g]["tasks"].append({
                "stage": ev["Stage ID"],
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                "cpu": m.get("Executor CPU Time", 0) / 1e9,
                "gc": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_bytes": w.get("Shuffle Bytes Written", 0),
                "shuffle_records": w.get("Shuffle Records Written", 0),
            })
    return groups


def group_counters(rec: dict | None, start: float, end: float) -> dict:
    """Counters of one traced operation (one job group) whose wall time
    ran from start to end."""
    if rec is None:
        rec = {"jobs": {}, "stages": {}, "tasks": []}
    stages, tasks = rec["stages"], rec["tasks"]
    reduce_ids = [sid for sid, st in stages.items() if st["reduce"]]
    skew = 1.0
    if reduce_ids:
        widest = max(reduce_ids, key=lambda sid: stages[sid]["tasks"])
        durs = [t["dur"] for t in tasks if t["stage"] == widest]
        med = statistics.median(durs) if durs else 0.0
        if med > 0:
            skew = max(durs) / med
    map_ids = {sid for sid, st in stages.items() if not st["reduce"]}
    return {
        "jobs": len(rec["jobs"]),
        "tasks": len(tasks),
        "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
        "map_shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks
                                 if t["stage"] in map_ids),
        "map_shuffle_records": sum(t["shuffle_records"] for t in tasks
                                   if t["stage"] in map_ids),
        "map_stage_s": covered([(stages[s]["start"], stages[s]["end"])
                                for s in map_ids], start, end),
        "reduce_stage_s": covered([(stages[s]["start"], stages[s]["end"])
                                   for s in reduce_ids], start, end),
        "merge_task_skew": skew,
        "task_cpu_s": sum(t["cpu"] for t in tasks),
        "gc_s": sum(t["gc"] for t in tasks),
    }
