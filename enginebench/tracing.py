"""Tracing for the traced run, and host context for every run.

A ``Tracer`` records one span (name, start, end, parent, request id) around
each call the benchmark makes into an engine layer and tags the Spark jobs
that call submits with ``setJobGroup``. Spans stay in memory and are written
out when the run ends. Jobs, tasks, task CPU, GC, launch wait, shuffle and
spill numbers per job group come from Spark's event log, which the traced
run enables and ``read_event_log`` parses after the session has stopped
(the log is complete only then). Reading them there instead of polling the
status tracker keeps the per-call cost of tracing to the job-group calls.

With tracing off, ``span`` only yields and records nothing, so the untraced
run pays for a context manager per call and nothing else.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, rid: int | None = None):
        """Record ``name`` around the body. Jobs the body submits land in
        the span's own job group (a child span takes them over while it
        runs); ``rid`` defaults to the parent's request id."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        rec = {"id": self._next, "name": name,
               "parent": parent["id"] if parent else None,
               "rid": rid if rid is not None else
               (parent["rid"] if parent else None),
               "group": f"enginebench-{self._next}"}
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def attach(self, events: dict[str, dict]) -> None:
        """Give every span the event-log numbers of its job group."""
        for s in self.spans:
            s.update(events.get(s["group"], _empty_group()))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], ())])
            out[s["name"]] = out.get(s["name"], 0.0) + \
                (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, task CPU (ns), GC (ms), shuffle bytes
    written, bytes spilled, and launch wait (ms, job submission to its
    first task launch, summed over the group's jobs)."""
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    first_launch: dict[int, int] = {}
    out: dict[str, dict] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group is None:
                        continue
                    job_group[j] = group
                    job_submit[j] = ev["Submission Time"]
                    out.setdefault(group, _empty_group())["jobs"] += 1
                    for s in ev.get("Stage IDs", ()):
                        stage_job.setdefault(s, j)
                elif kind == "SparkListenerTaskEnd":
                    j = stage_job.get(ev["Stage ID"])
                    if j is None:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    launch = info["Launch Time"]
                    first_launch[j] = min(first_launch.get(j, launch), launch)
                    g = out[job_group[j]]
                    g["tasks"] += 1
                    g["cpu_ns"] += m.get("Executor CPU Time", 0)
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + \
                        m.get("Disk Bytes Spilled", 0)
    for j, launch in first_launch.items():
        out[job_group[j]]["launch_wait_ms"] += launch - job_submit[j]
    return out


def _empty_group() -> dict:
    return {"jobs": 0, "tasks": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "launch_wait_ms": 0}


# ------------------------------------------------------------- host ------

def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def cpu_probe_ms() -> float:
    """Wall time of a fixed single-threaded loop: how fast this host runs
    plain Python right now. Shared hosts swing widely between windows."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1e3


class HostSampler:
    """Steal share and CPU probe, sampled before and after a run."""

    def __init__(self):
        self.probe_before = cpu_probe_ms()
        self.jiffies_before = cpu_jiffies()

    def finish(self) -> dict:
        probe_after = cpu_probe_ms()
        steal1, total1 = cpu_jiffies()
        steal0, total0 = self.jiffies_before
        return {
            "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
            "cpu_probe_ms_before": self.probe_before,
            "cpu_probe_ms_after": probe_after,
            "cpu_probe_ms": (self.probe_before + probe_after) / 2,
        }
