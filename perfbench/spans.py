"""Spans around calls into the engine's layers, and Spark event-log folding.

A span has a name, a start, an end and a parent. Spans live in memory and
are written once, when the traced job ends. Entering a span sets the Spark
job group to the span name, so every job the span's thread submits carries
it in the event log; jobs submitted from other threads (the concurrent DAG
runs its leaves in a thread pool) fall to the innermost span whose interval
holds their submission time. Task metrics of a job fold into its span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from proctree import tree_cpu_s

MB = 1e6
# the only events folded; the rest (plans, block updates) are skipped unparsed
_KEPT = tuple('{"Event":"SparkListener%s"' % k for k in ("JobStart", "JobEnd", "TaskEnd"))


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # wall time spent in span bookkeeping (the /proc reads and py4j calls)
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": None, "end": None,
               "cpu0": tree_cpu_s(os.getpid()), "cpu_s": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        rec["start"] = time.time()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - rec.pop("cpu0")
            self._stack.pop()
            if sc is not None:
                parent = self.spans[self._stack[-1]]["name"] if self._stack else None
                sc.setLocalProperty("spark.jobGroup.id", parent)
                sc.setLocalProperty("spark.job.description", parent)
            self.bookkeeping_s += time.time() - rec["end"]

    def find(self, name: str) -> dict | None:
        return next((s for s in self.spans if s["name"] == name), None)


def event_log_cpu_s(spark) -> float:
    """CPU-seconds the JVM thread that writes the event log has used."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    total = 0
    for tid in mx.getAllThreadIds():
        info = mx.getThreadInfo(tid)
        # AsyncEventQueue names its thread after the queue ("eventLog")
        if info is not None and info.getThreadName() == "spark-listener-group-eventLog":
            total += max(0, mx.getThreadCpuTime(tid))
    return total / 1e9


def read_event_log(log_dir: str) -> list[dict]:
    """Job and task events of the single application log under ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {paths}")
    with open(paths[0]) as fh:
        return [json.loads(line) for line in fh if line.startswith(_KEPT)]


def fold(spans: list[dict], events: list[dict]) -> None:
    """Attach to each span: ``jobs``, ``jobs_wall_s`` (summed job walls),
    ``shuffle_write_mb``, ``spill_mb`` and ``task_skew`` (max/median task
    time of the span's costliest stage). Spans gain only the jobs that map
    to them directly; parents do not sum their children."""
    by_name = {s["name"]: i for i, s in enumerate(spans)}
    job_span: dict[int, int] = {}
    job_iv: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid, t = ev["Job ID"], ev["Submission Time"] / 1000.0
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            idx = by_name.get(group)
            if idx is None:
                idx = _innermost(spans, t)
            if idx is not None:
                job_span[jid] = idx
            job_iv[jid] = [t, t]
            for sid in ev.get("Stage IDs", []):
                # a reused stage runs its tasks in the first job that needs it
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_iv:
                job_iv[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(ev)

    for s in spans:
        s.update(jobs=0, jobs_wall_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0,
                 task_skew=1.0)
    stage_times: dict[int, dict[int, list[float]]] = {}
    for jid, idx in job_span.items():
        spans[idx]["jobs"] += 1
        spans[idx]["jobs_wall_s"] += job_iv[jid][1] - job_iv[jid][0]
    for sid, evs in tasks.items():
        idx = job_span.get(stage_job.get(sid, -1))
        if idx is None:
            continue
        s = spans[idx]
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            s["shuffle_write_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB)
            s["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / MB
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            stage_times.setdefault(idx, {}).setdefault(sid, []).append(dur)
    for idx, stages in stage_times.items():
        costliest = max(stages.values(), key=sum)
        med = statistics.median(costliest)
        spans[idx]["task_skew"] = max(costliest) / med if med > 0 else 1.0


def idle_s(events: list[dict], start: float, end: float) -> float:
    """Time in [start, end] when no Spark job of the application ran."""
    ivs, open_ = [], {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            open_[ev["Job ID"]] = ev["Submission Time"] / 1000.0
        elif ev.get("Event") == "SparkListenerJobEnd" and ev["Job ID"] in open_:
            a, b = open_.pop(ev["Job ID"]), ev["Completion Time"] / 1000.0
            a, b = max(a, start), min(b, end)
            if b > a:
                ivs.append([a, b])
    return (end - start) - _union(sorted(ivs))


def _innermost(spans: list[dict], t: float) -> int | None:
    best = None
    for i, s in enumerate(spans):
        if s["start"] <= t <= (s["end"] or float("inf")):
            if best is None or s["start"] >= spans[best]["start"]:
                best = i
    return best


def _union(ivs: list[list[float]]) -> float:
    total, cur = 0.0, None
    for a, b in ivs:
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total
