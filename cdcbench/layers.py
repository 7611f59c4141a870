"""Per-layer numbers from Spark's own reports, read after the fact.

- The event log (written only in traced runs) names every plan-node metric
  (accumulator id -> node, metric, unit) and carries each task's metric
  updates, each stage's jobs and each job's start and end.  Work belongs to a
  span when the job that did it started inside the span, so a cached plan
  read again later is not counted twice.
- ``StreamingQuery.recentProgress`` gives the micro-batch phase durations.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from common import median, quantile

_SQL = "org.apache.spark.sql.execution.ui."


class EventLog:
    def __init__(self, log_dir: str):
        self.metrics: dict[int, tuple[str, str, str]] = {}  # acc -> node, metric, unit
        self.stage_updates: dict[int, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        self.exec_updates: dict[int, dict[int, float]] = defaultdict(dict)  # driver-side
        self.exec_time: dict[int, int] = {}
        self.jobs: list[dict] = []  # submit, end, stages, exec
        paths = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
        if paths:
            self._read(paths[-1])

    def _plan(self, info: dict) -> None:
        todo = [info]
        while todo:
            node = todo.pop()
            for m in node["metrics"]:
                self.metrics[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
            todo.extend(node["children"])

    def _read(self, path: str) -> None:
        open_jobs: dict[int, dict] = {}
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerTaskEnd":
                    upd = self.stage_updates[e["Stage ID"]]
                    for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                        try:
                            upd[a["ID"]] += float(a["Update"])
                        except (KeyError, TypeError, ValueError):
                            continue
                        if a.get("Name") == "internal.metrics.executorRunTime":
                            upd[-1] += float(a["Update"])
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    self._plan(e["sparkPlanInfo"])
                    self.exec_time.setdefault(e["executionId"], e.get("time", 0))
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc, val in e["accumUpdates"]:
                        self.exec_updates[e["executionId"]][acc] = float(val)
                elif kind == "SparkListenerJobStart":
                    eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
                    job = {"submit": e["Submission Time"], "end": None,
                           "stages": e["Stage IDs"],
                           "exec": int(eid) if eid is not None else None}
                    open_jobs[e["Job ID"]] = job
                    self.jobs.append(job)
                elif kind == "SparkListenerJobEnd":
                    job = open_jobs.pop(e["Job ID"], None)
                    if job is not None:
                        job["end"] = e["Completion Time"]

    def window(self, start_s: float, end_s: float) -> "Window":
        lo, hi = start_s * 1000 - 1, end_s * 1000 + 1
        jobs = [j for j in self.jobs if lo <= j["submit"] <= hi]
        execs = [x for x, t in self.exec_time.items() if lo <= t <= hi]
        return Window(self, jobs, execs)


class Window:
    """The jobs (and SQL executions) one span started."""

    def __init__(self, log: EventLog, jobs: list[dict], execs: list[int]):
        self.log, self.jobs = log, jobs
        self.updates: dict[int, float] = defaultdict(float)
        for s in {s for j in jobs for s in j["stages"]}:
            for acc, v in log.stage_updates.get(s, {}).items():
                self.updates[acc] += v
        for x in execs:
            for acc, v in log.exec_updates.get(x, {}).items():
                self.updates[acc] += v

    def metric(self, metric: str, node_prefix: str = "") -> float:
        """Sum of one node metric over matching nodes, timings in ms."""
        total = 0.0
        for acc, v in self.updates.items():
            node, name, unit = self.log.metrics.get(acc, ("", "", ""))
            if name == metric and node.startswith(node_prefix):
                total += v / 1e6 if unit == "nsTiming" else v
        return total

    def task_ms(self) -> float:
        return self.updates.get(-1, 0.0)

    def job_wall_ms(self) -> float:
        """Length of the union of job intervals."""
        spans = sorted((j["submit"], j["end"]) for j in self.jobs if j["end"])
        total, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in spans:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total


def exec_layers(windows: list[tuple[Window, float]]) -> dict[str, float]:
    """Fold plan-node metrics of batch-query actions into layers: totals over
    the given (window, wall seconds) pairs."""
    out = defaultdict(float)
    for w, wall_s in windows:
        out["exec.task_ms"] += w.task_ms()
        out["exec.scan_ms"] += w.metric("scan time", "Scan")
        out["exec.scan_bytes"] += w.metric("size of files read", "Scan")
        out["exec.pipeline_ms"] += w.metric("duration", "WholeStageCodegen")
        out["exec.shuffle_write_ms"] += w.metric("shuffle write time", "Exchange")
        out["exec.shuffle_bytes"] += w.metric("shuffle bytes written", "Exchange")
        out["exec.python_ms"] += w.metric("time to run Python workers")
        out["exec.spill_bytes"] += w.metric("spill size")
        out["exec.driver_ms"] += max(0.0, 1000 * wall_s - w.job_wall_ms())
    return dict(out)


def progress_layers(progress: list[dict]) -> dict[str, float]:
    """``recentProgress`` (as parsed JSON) -> streaming/sources layer metrics."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]

    def p50(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in batches])

    gaps = [p["durationMs"].get("triggerExecution", 0)
            - p["durationMs"].get("addBatch", 0) for p in batches]
    return {
        "streaming.batches": len(batches),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.addBatch_ms_p50": p50("addBatch"),
        "streaming.queryPlanning_ms_p50": p50("queryPlanning"),
        "streaming.walCommit_ms_p50": p50("walCommit"),
        "streaming.commitOffsets_ms_p50": p50("commitOffsets"),
        "streaming.driver_gap_ms_p50": median(gaps),
        "sources.input_rows": sum(p["numInputRows"] for p in batches),
        "sources.latestOffset_ms": p50("latestOffset"),
        "sources.getBatch_ms": p50("getBatch"),
    }


def p99(xs) -> float:
    return quantile(xs, 0.99)
