"""Spans around the benchmark's calls into each engine layer.

A span wraps one public engine call together with the action that
materializes it. While a span is open its job group is set, so every Spark
job it starts can be found again afterwards through ``statusTracker()``.
Spans live in memory; ``Tracer.layers`` reads the status stores once, when
the run is over:

* ``statusTracker()``: jobs and stages of each span's group;
* the app status store (``taskList``): tasks, failed tasks, task-time
  skew, shuffle bytes written, bytes spilled to disk;
* the SQL status store: Python-worker time of every ArrowEvalPython node,
  and the interval of the write that materializes a stage.

Both stores are populated with ``spark.ui.enabled=false``.

A span opened with ``materialized_by=<layer>`` wraps a
``plans.snapshots.run_stage`` call: the parquet write inside it becomes a
child span named ``<layer>`` (taken from the SQL store afterwards), and the
rest of the call - the read-back count and the commit - stays with the
parent. Self time is a span's duration minus the time its children cover.
"""

from __future__ import annotations

import itertools
import re
import statistics
import time
from contextlib import contextmanager

SPAN_NAMES = (
    "extract.mentions", "extract.normalize", "tiles.with_tile", "tiles.datasets", "tiles.json", "joins.pip",
    "joins.knn", "joins.knn_self", "components.cc", "plans.snapshots", "streaming.epoch",
)
SPAN_METRICS = ("s", "jobs", "tasks", "failed_tasks", "task_skew", "shuffle_mb", "spill_mb", "python_s")
UNITS = {"s": "s", "python_s": "s", "shuffle_mb": "MiB", "spill_mb": "MiB", "task_skew": "ratio"}
# UDF name in an ArrowEvalPython node -> the kernel its worker time is booked
# to; a node evaluating several UDFs goes to the first one listed here
UDF_KERNELS = {"s2_covering": "s2", "elev_3857": "dem", "containing_polys": "pip"}
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_DURATION_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


class Tracer:
    """Records spans when ``enabled``; a disabled tracer costs one branch
    per span."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._groups = itertools.count()
        self.op = 0

    @contextmanager
    def span(self, name: str, materialized_by: str | None = None):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        rec = {
            "name": name,
            "op": self.op,
            "group": f"perfbench-{next(self._groups)}",
            "parent": self._open[-1]["group"] if self._open else None,
            "materialized_by": materialized_by,
        }
        saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
        self.spans.append(rec)
        self._open.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["t0"] = time.time()
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self._open.pop()
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    def drop(self, op: int) -> None:
        """Forgets the spans of a failed operation."""
        self.spans = [r for r in self.spans if r["op"] != op]

    def top_level_s(self, op: int) -> float:
        return sum(r["t1"] - r["t0"] for r in self.spans if r["op"] == op and r["parent"] is None)

    # --- read-out, after the run -------------------------------------------

    def layers(self, n_ops: int) -> tuple[dict[str, dict], dict[str, float]]:
        """Per span name: every ``SPAN_METRICS`` value, summed over all
        traced operations and divided by ``n_ops`` (``task_skew`` is the
        worst stage instead). Also returns Python-worker seconds per UDF
        kernel, per operation."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        app = sc._jsc.sc().statusStore()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        executions = _executions(sql)
        recs = []
        for span in self.spans:
            jobs = set(tracker.getJobIdsForGroup(span["group"]))
            span_execs = [e for e in executions if e["jobs"] & jobs]
            if span["materialized_by"]:
                for e in span_execs:
                    if e["write"]:
                        recs.append(
                            {"name": span["materialized_by"], "t0": e["t0"], "t1": e["t1"],
                             "jobs": e["jobs"] & jobs, "execs": [e], "parent": span["group"]}
                        )
                        jobs -= e["jobs"]
                span_execs = [e for e in span_execs if not e["write"]]
            recs.append({"name": span["name"], "t0": span["t0"], "t1": span["t1"], "jobs": jobs,
                         "execs": span_execs, "parent": span["parent"], "group": span["group"]})
        child_s: dict[str, float] = {}
        for r in recs:
            if r["parent"] is not None:
                child_s[r["parent"]] = child_s.get(r["parent"], 0.0) + r["t1"] - r["t0"]
        out: dict[str, dict] = {}
        kernels: dict[str, float] = {k: 0.0 for k in UDF_KERNELS.values()}
        for r in recs:
            m = out.setdefault(r["name"], {k: 0.0 for k in SPAN_METRICS})
            m["s"] += (r["t1"] - r["t0"] - child_s.get(r.get("group"), 0.0)) / n_ops
            m["jobs"] += len(r["jobs"]) / n_ops
            for jid in r["jobs"]:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = _stage(app, tracker, sid)
                    m["tasks"] += st["tasks"] / n_ops
                    m["failed_tasks"] += st["failed"] / n_ops
                    m["shuffle_mb"] += st["shuffle_mb"] / n_ops
                    m["spill_mb"] += st["spill_mb"] / n_ops
                    m["task_skew"] = max(m["task_skew"], st["skew"])
            for e in r["execs"]:
                for kernel, secs in e["python"].items():
                    m["python_s"] += secs / n_ops
                    if kernel:
                        kernels[kernel] += secs / n_ops
        return out, kernels


def _stage(app, tracker, stage_id: int) -> dict:
    info = tracker.getStageInfo(stage_id)
    attempt = info.currentAttemptId if info else 0
    durations, failed, shuffle, spill = [], 0, 0, 0
    tasks = app.taskList(stage_id, attempt, 1 << 20)
    for i in range(tasks.size()):
        t = tasks.apply(i)
        if t.status() == "FAILED":
            failed += 1
        if t.duration().isDefined():
            durations.append(t.duration().get())
        if t.taskMetrics().isDefined():
            tm = t.taskMetrics().get()
            shuffle += tm.shuffleWriteMetrics().bytesWritten()
            spill += tm.diskBytesSpilled()
    med = statistics.median(durations) if durations else 0
    return {
        "tasks": len(durations),
        "failed": failed,
        "shuffle_mb": shuffle / 2**20,
        "spill_mb": spill / 2**20,
        "skew": max(durations) / med if len(durations) > 1 and med > 0 else 1.0,
    }


def _executions(sql) -> list[dict]:
    """Every finished SQL execution: its jobs, wall interval, whether its
    root is a file write, and the Python-worker seconds of each
    ArrowEvalPython node keyed by the UDF kernel it evaluates."""
    out = []
    lst = sql.executionsList()
    for i in range(lst.size()):
        e = lst.apply(i)
        if not e.completionTime().isDefined():
            continue
        eid = e.executionId()
        jobs = set(int(j) for j in e.jobs().keySet().mkString(",").split(",") if j)
        rec = {
            "jobs": jobs,
            "t0": e.submissionTime() / 1000.0,
            "t1": e.completionTime().get().getTime() / 1000.0,
            "write": "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription(),
            "python": {},
        }
        if "ArrowEvalPython" in e.physicalPlanDescription():
            values = _metric_values(sql, eid)
            nodes = sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if node.name() != "ArrowEvalPython":
                    continue
                desc = node.desc()
                kernel = next((k for udf, k in UDF_KERNELS.items() if udf in desc), "")
                ms = node.metrics()
                for j in range(ms.size()):
                    if ms.apply(j).name() == "time to run Python workers":
                        secs = _parse_duration(values.get(ms.apply(j).accumulatorId(), ""))
                        rec["python"][kernel] = rec["python"].get(kernel, 0.0) + secs
        out.append(rec)
    return out


def _metric_values(sql, execution_id: int) -> dict[int, str]:
    """accumulator id -> formatted SQL metric, in one py4j call (a Scala
    ``Map[Long, String]`` cannot be indexed with Python ints)."""
    joined = sql.executionMetrics(execution_id).mkString("\u0001")
    out = {}
    for item in joined.split("\u0001"):
        key, _, value = item.partition(" -> ")
        if key.strip().isdigit():
            out[int(key)] = value
    return out


def _parse_duration(text: str) -> float:
    """Seconds from a formatted timing metric: the total is the first
    ``<number> <unit>`` on the last line (``total (min, med, max ...)\\n
    1.2 s (...)``)."""
    m = re.search(r"([\d.,]+)\s*(ms|s|m|h)\b", text.strip().splitlines()[-1] if text.strip() else "")
    return float(m.group(1).replace(",", "")) * _DURATION_UNITS[m.group(2)] if m else 0.0
