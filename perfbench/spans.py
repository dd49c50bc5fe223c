"""Spans and Spark-side counters for the traced run.

Spans are recorded by the benchmark around its own calls into the
program (catalog builds, sink loads, lake reads and commits); nothing
inside ``skopje_spark`` is instrumented. Each span sets the Spark job
group to ``workload/entry/phase`` so the event log attributes every
job to the call that launched it. Spans stay in memory; ``dump``
writes them out once at the end.

``Tracer(enabled=False)`` is the untraced path: the same call sites,
no job groups, no plan inspection, only the wall clock.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.pass_no = 0
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.occurrences: dict[str, int] = {}

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] = self.counts.get(key, 0.0) + value
            self.occurrences[key] = self.occurrences.get(key, 0) + 1

    @contextmanager
    def span(self, entry: str, phase: str):
        """Time one call; when enabled, tag its Spark jobs and record
        ``(name, phase, pass, start, end, jobs)``. Spans of one pass
        share its ``pass`` number."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"{self.workload}/{entry}/{phase}"
        # the tracker keeps the group's jobs from earlier passes too
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(group, group)
        rec = {"name": group, "phase": phase, "pass": self.pass_no,
               "start": time.time()}
        try:
            yield
        finally:
            rec["end"] = time.time()
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group)) - before
            self.spans.append(rec)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def catalyst(self, df) -> None:
        """Analysis / optimization / planning ms of ``df``'s plan, read
        from its QueryExecution's phase tracker (forces planning)."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            self.add(f"catalyst.{kv._1()}_ms", float(kv._2().durationMs()))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def _interval_union(iv: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(iv):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def _accum(stage_info: dict) -> dict[str, float]:
    out = {}
    for a in stage_info.get("Accumulables", []):
        try:
            out[a["Name"]] = float(a["Value"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def event_log_metrics(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Stage-level totals from the Spark event log for jobs submitted
    inside ``windows`` (epoch seconds), summed over all windows."""
    events = []
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    continue  # a torn last line of an in-progress log

    def inside(ms) -> bool:
        t = (ms or 0) / 1000.0
        return any(s <= t <= e for s, e in windows)

    jobs, stage_ids = 0, set()
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart" and inside(ev.get("Submission Time")):
            jobs += 1
            stage_ids.update(ev.get("Stage IDs", []))
    tasks: dict[int, list[float]] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_ids:
            ti = ev.get("Task Info", {})
            tasks.setdefault(ev["Stage ID"], []).append(
                (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0
            )
    m = {"jobs": jobs, "stages": 0, "cpu_ns": 0.0, "gc_ms": 0.0,
         "shuffle_read": 0.0, "shuffle_write": 0.0, "spill": 0.0,
         "input_bytes": 0.0, "input_rows": 0.0}
    intervals = []
    longest = (0.0, None)
    for ev in events:
        if ev.get("Event") != "SparkListenerStageCompleted":
            continue
        si = ev.get("Stage Info", {})
        if si.get("Stage ID") not in stage_ids or "Submission Time" not in si:
            continue
        m["stages"] += 1
        s, e = si["Submission Time"] / 1000.0, si.get("Completion Time", 0) / 1000.0
        intervals.append((s, e))
        if e - s > longest[0]:
            longest = (e - s, si["Stage ID"])
        acc = _accum(si)
        m["cpu_ns"] += acc.get("internal.metrics.executorCpuTime", 0.0)
        m["gc_ms"] += acc.get("internal.metrics.jvmGCTime", 0.0)
        m["shuffle_read"] += acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0.0)
        m["shuffle_read"] += acc.get("internal.metrics.shuffle.read.localBytesRead", 0.0)
        m["shuffle_write"] += acc.get("internal.metrics.shuffle.write.bytesWritten", 0.0)
        m["spill"] += acc.get("internal.metrics.diskBytesSpilled", 0.0)
        m["input_bytes"] += acc.get("internal.metrics.input.bytesRead", 0.0)
        m["input_rows"] += acc.get("internal.metrics.input.recordsRead", 0.0)
    m["tasks"] = sum(len(v) for v in tasks.values())
    m["stage_s"] = _interval_union(intervals)
    durs = sorted(tasks.get(longest[1], []))
    med = durs[len(durs) // 2] if durs else 0.0
    m["task_skew"] = durs[-1] / med if med > 0 else 1.0
    return m
