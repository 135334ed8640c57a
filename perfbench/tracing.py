"""Spans, self time and the Spark-side facts of a traced run.

Everything here observes the program from outside: spans wrap calls into the
package's public functions, Py4J calls are counted at the client in this
process, and job/task facts come from the session's own event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

# Job group of Spark work that belongs to no traced operation.
UNTIMED_GROUP = "untimed"


class Tracer:
    """Spans ``{name, start, end, parent, run_id}`` kept in memory."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = ""
        # Event-log times are epoch milliseconds; spans use perf_counter.
        self.clock_offset = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: "int | None", run_id: str) -> None:
        """Record a span measured elsewhere (a Spark job from the event log)."""
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "run_id": run_id})

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_length(intervals: list) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list) -> dict:
    """Per span name: summed duration minus the part its children cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        start, end = s["start"], s["end"]
        covered = union_length([
            (max(c["start"], start), min(c["end"], end))
            for c in children.get(i, []) if c["end"] > start and c["start"] < end
        ])
        out[s["name"]] = out.get(s["name"], 0.0) + (end - start) - covered
    return out


class Py4JCounter:
    """Counts commands this process sends to the JVM."""

    def __init__(self, spark):
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return inner(*args, **kwargs)

        client.send_command = counted


class CodegenCounter:
    """Compile count and time from the JVM's ``CodegenMetrics``."""

    def __init__(self, spark):
        self._hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> tuple[int, float]:
        snap = self._hist.getSnapshot()
        count = int(self._hist.getCount())
        # The reservoir keeps every sample until it holds 1028; past that
        # the sum is estimated from its mean.
        total_ms = float(sum(snap.getValues())) if count <= 1028 else snap.getMean() * count
        return count, total_ms / 1000.0


def event_log_jobs(log_dir: str, app_id: str) -> list[dict]:
    """Per job of one application: group, interval and summed task metrics."""
    files = []
    for p in sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*"))):
        if os.path.isdir(p):  # rolling layout: eventlog_v2_<app>/events_<n>_<app>
            parts = glob.glob(os.path.join(p, "events_*"))
            files += sorted(parts, key=lambda q: int(os.path.basename(q).split("_")[1]))
        else:
            files.append(p)
    if not files:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            lines = f.read().splitlines()
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start_ms": ev["Submission Time"], "end_ms": None,
                    "tasks": 0, "failed_tasks": 0, "task_s": 0.0, "task_cpu_s": 0.0,
                    "deserialize_s": 0.0, "gc_s": 0.0, "result_bytes": 0,
                    "shuffle_bytes": 0, "spill_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                if job is None:
                    continue
                job["tasks"] += 1
                if ev.get("Task Info", {}).get("Failed"):
                    job["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                job["task_s"] += m.get("Executor Run Time", 0) / 1e3
                job["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["deserialize_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                job["result_bytes"] += m.get("Result Size", 0)
                job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return [j for j in jobs.values() if j["end_ms"] is not None]
