"""Per-layer observation for the traced run: one Spark job group per op
layer, job/stage/task counts from ``statusTracker``, Catalyst phase
times from a DataFrame's ``QueryExecution`` tracker, task metrics from
the uncompressed event log, and micro-batch progress from a
``StreamingQueryListener``. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import json
import os
import threading
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("analysis", "optimization", "planning")


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        # one plain file per application (Spark 4 rolls by default)
        "spark.eventLog.rolling.enabled": "false",
    }


def catalyst_phases_s(df) -> dict[str, float]:
    """Analysis / optimization / planning seconds of ``df``'s query
    execution, as recorded by Catalyst's own phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


class JobGroups:
    """Job groups of the traced ops and the jobs Spark ran under them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs: dict[str, list[int]] = {}

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.collect(name)

    def collect(self, name: str) -> list[int]:
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(name))
        self.jobs[name] = ids
        return ids

    def counts(self, name: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        ids = self.jobs.get(name) or self.collect(name)
        tasks = 0
        for j in ids:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else []:
                st = tracker.getStageInfo(s)
                tasks += st.numTasks if st else 0
        return {"jobs": len(ids), "tasks": tasks}


def task_metrics_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum executor CPU, GC and shuffle-write bytes of every finished
    task, keyed by the job group of the job that ran it. Read after the
    session has stopped, when the log (one file) is complete."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out.setdefault(group, {"executor_cpu_s": 0.0, "gc_s": 0.0,
                                                 "shuffle_write_bytes": 0})
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return out


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report, keyed by query name.
    Listener events arrive asynchronously; a query's reports are
    complete once its termination event has been seen."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: dict[str, list[dict]] = {}
        self.names: dict[str, str] = {}
        self.done = threading.Condition(self.lock)
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        with self.lock:
            self.names[str(event.runId)] = event.name

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.setdefault(p["name"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.done:
            self.terminated.add(self.names.get(str(event.runId), ""))
            self.done.notify_all()

    def batches_named(self, name: str, timeout: float = 10.0) -> list[dict]:
        with self.done:
            self.done.wait_for(lambda: name in self.terminated, timeout)
            return list(self.progress.get(name, []))


def summarise_progress(batches: list[dict]) -> dict[str, float]:
    """Per-drain streaming layer figures from its progress reports."""

    def dur(key: str) -> float:
        return sum(b.get("durationMs", {}).get(key, 0) for b in batches) / 1000.0

    def state(b: dict, key: str) -> int:
        return sum(op.get(key, 0) for op in b.get("stateOperators", []))

    return {
        "batches": len(batches),
        "add_batch_s": dur("addBatch"),
        "query_planning_s": dur("queryPlanning"),
        "wal_commit_s": dur("walCommit"),
        "commit_offsets_s": dur("commitOffsets"),
        "state_commit_s": sum(state(b, "commitTimeMs") for b in batches) / 1000.0,
        "state_rows": state(batches[-1], "numRowsTotal") if batches else 0,
        "state_memory_bytes": max((state(b, "memoryUsedBytes") for b in batches), default=0),
    }
