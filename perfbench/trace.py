"""Per-layer tracing from outside the package: timers around public
calls, a py4j command counter, the job group of each operation, the
storage status, and Spark's event log."""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# py4j sends "m\nd\n<id>" when Python garbage-collects a JVM object
# handle; when that happens depends on the Python GC, so it is not
# counted.
_PY4J_MEMORY_DELETE = "m\nd\n"

# Slack between the Python and the JVM readings of the same wall clock.
CLOCK_SLACK_MS = 50.0

PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "time to run Python workers": "python.run_ms",
}


class Py4jCounter:
    """Counts py4j commands the Python driver sends to the JVM."""

    def __init__(self, sc):
        self.calls = 0
        self._client = sc._gateway._gateway_client
        orig = self._client.send_command

        def send_command(command, *args, **kwargs):
            if not command.startswith(_PY4J_MEMORY_DELETE):
                self.calls += 1
            return orig(command, *args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.__dict__.pop("send_command", None)


class OpRecorder:
    """Times each public call of one operation. With ``traced`` the call
    is split into build (the call returning a lazy DataFrame), Catalyst
    planning and execution, and the operation runs in its own job
    group."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.py4j = Py4jCounter(spark.sparkContext) if traced else None
        self.ops: list[dict] = []
        self._cur: dict | None = None

    @contextmanager
    def op(self, index: int, kind: str):
        rec = {"op": index, "kind": kind, "group": f"perfbench-op{index}",
               "steps": [], "start_ms": time.time() * 1000}
        if self.traced:
            self.spark.sparkContext.setJobGroup(rec["group"], kind)
            rec["py4j_start"] = self.py4j.calls
        self._cur = rec
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000
            if self.traced:
                rec["py4j.calls"] = self.py4j.calls - rec.pop("py4j_start")
                rec["status_jobs"] = len(self.spark.sparkContext.statusTracker()
                                         .getJobIdsForGroup(rec["group"]))
                self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
                rec.update(storage(self.spark))
            self._cur = None
            self.ops.append(rec)

    def step(self, layer: str, build, consume):
        """``build()`` returns a DataFrame; ``consume(df)`` executes it."""
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        if self.traced:
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        out = consume(df)
        t3 = time.perf_counter()
        self._cur["steps"].append({"layer": layer, "build_s": t1 - t0,
                                   "plan_s": t2 - t1, "exec_s": t3 - t2,
                                   "wall_s": t3 - t0})
        return out

    def call(self, layer: str, fn):
        """A public call that does its own work eagerly."""
        t0 = time.perf_counter()
        out = fn()
        t1 = time.perf_counter()
        self._cur["steps"].append({"layer": layer, "build_s": t1 - t0,
                                   "plan_s": 0.0, "exec_s": 0.0,
                                   "wall_s": t1 - t0})
        return out

    def close(self) -> None:
        if self.py4j is not None:
            self.py4j.close()


def storage(spark) -> dict:
    """Persisted RDDs and their in-memory bytes, as the block manager
    reports them."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = [i for i in infos if i.numCachedPartitions() > 0]
    return {"cache.rdds": len(cached),
            "cache.mem_bytes": sum(i.memSize() for i in cached)}


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -float("inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, their intervals, completed stages, tasks and
    the task metrics summed over them."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    job_group, job_span, stage_group = {}, {}, {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = g
                job_span[ev["Job ID"]] = [ev["Submission Time"], None]
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
                groups[g]["scheduler.jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                job_span[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = groups[stage_group.get(info["Stage ID"])]
                acc["scheduler.stages"] += 1
                for a in info.get("Accumulables", []):
                    name = PYTHON_METRICS.get(a.get("Name"))
                    if name:
                        acc[name] += float(a["Value"])
            elif kind == "SparkListenerTaskEnd":
                acc = groups[stage_group.get(ev["Stage ID"])]
                m = ev.get("Task Metrics") or {}
                acc["scheduler.tasks"] += 1
                acc["task.run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["task.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["task.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                acc["shuffle.read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                acc["spill.bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
    spans = defaultdict(list)
    for jid, (s, e) in job_span.items():
        if e is not None:
            spans[job_group[jid]].append((s, e))
    out = {}
    for g, acc in groups.items():
        acc = dict(acc)
        acc["task.wait_s"] = acc.get("task.run_s", 0) - acc.get("task.cpu_s", 0)
        acc["python.run_s"] = acc.pop("python.run_ms", 0.0) / 1e3
        acc["_job_spans"] = spans.get(g, [])
        out[g] = acc
    return out


EVENT_COUNTERS = (
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "task.run_s", "task.cpu_s", "task.wait_s", "task.gc_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
    "python.run_s", "python.bytes_sent", "python.bytes_received")


def op_layers(rec: dict, events: dict) -> dict:
    """One operation's per-layer row."""
    ev = events.get(rec["group"], {})
    row = {name: ev.get(name, 0.0) for name in EVENT_COUNTERS}
    jobs = [(max(s, rec["start_ms"]), min(e, rec["end_ms"]))
            for s, e in ev.get("_job_spans", [])]
    row["driver.idle_s"] = rec["wall_s"] - _union_ms(jobs) / 1e3
    row["catalyst.plan_s"] = sum(s["plan_s"] for s in rec["steps"])
    row["op.build_s"] = sum(s["build_s"] for s in rec["steps"])
    row["op.exec_s"] = sum(s["exec_s"] for s in rec["steps"])
    for s in rec["steps"]:
        name = s["layer"] + "_s"
        row[name] = row.get(name, 0.0) + s["wall_s"]
        if s["layer"].startswith("text."):
            row["text.build_s"] = row.get("text.build_s", 0.0) + s["build_s"]
    # Cross-check of the two clocks and of the job-group attribution:
    # every job the event log files under this operation's group must
    # start and end inside the operation's Python-timed window.
    row["trace.jobs_in_op"] = all(
        s >= rec["start_ms"] - CLOCK_SLACK_MS
        and e <= rec["end_ms"] + CLOCK_SLACK_MS
        for s, e in ev.get("_job_spans", []))
    for key in ("py4j.calls", "cache.rdds", "cache.mem_bytes"):
        row[key] = rec.get(key, 0)
    for key, val in rec.items():
        if key.startswith("dedup.") and not key.endswith("_s"):
            row[key] = val
    row["wall_s"] = rec["wall_s"]
    return row
