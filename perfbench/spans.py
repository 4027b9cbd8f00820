"""Spans around the public calls job.run makes, and the Spark event log
read back per span.

Everything here runs in the benchmark's own process: the shims replace
module attributes of ``canned_yaml_spark`` in memory for the traced
run only, and nothing under the package changes. Each span sets the
Spark job group, so the event log attributes every job, stage and task
to the span that caused it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """In-memory spans: name, start, end, parent, job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _open(self, name: str) -> dict:
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench.{len(self.spans)}.{name}",
               "start": time.perf_counter(), "end": None,
               "_prev_group": self.sc.getLocalProperty(GROUP_KEY)}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(GROUP_KEY, rec["group"])
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self._stack.remove(rec)
        self.sc.setLocalProperty(GROUP_KEY, rec.pop("_prev_group"))

    @contextmanager
    def span(self, name: str):
        rec = self._open(name)
        try:
            yield rec
        finally:
            self._close(rec)

    def wrap(self, fn, name):
        """fn wrapped in a span; `name` may be a function of the args."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return fn(*args, **kwargs)
        return traced

    def children(self, parent: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent["id"]]

    def subtree_groups(self, root: dict) -> set[str]:
        ids = {root["id"]}
        for s in self.spans:                 # spans are in open order
            if s["parent"] in ids:
                ids.add(s["id"])
        return {s["group"] for s in self.spans if s["id"] in ids}

    def export(self, t0: float) -> list[dict]:
        return [{k: (round(v - t0, 6) if k in ("start", "end") else v)
                 for k, v in s.items() if not k.startswith("_")}
                for s in self.spans]


@contextmanager
def shim_job_run(tracer: Tracer):
    """Trace job.run and the public calls it makes: compile_spec,
    checkpoint.pending_only, job.all_violations (building the lazy plan
    runs eager jobs and costs seconds of driver time in a cold JVM),
    the three checkpoint.write_partitioned calls and
    checkpoint.append_manifest. The final verdict read is the
    span from the manifest commit to job.run's return: the shim opens
    it when append_manifest returns."""
    from canned_yaml_spark import checkpoint, job

    saved = {(job, "compile_spec"): job.compile_spec,
             (job, "run"): job.run,
             (job, "all_violations"): job.all_violations,
             (checkpoint, "pending_only"): checkpoint.pending_only,
             (checkpoint, "write_partitioned"): checkpoint.write_partitioned,
             (checkpoint, "append_manifest"): checkpoint.append_manifest}
    tail: list[dict] = []

    def append_manifest(*args, **kwargs):
        with tracer.span("checkpoint.append_manifest"):
            out = saved[(checkpoint, "append_manifest")](*args, **kwargs)
        tail.append(tracer._open("verdict_read"))     # noqa: SLF001
        return out

    def run(*args, **kwargs):
        with tracer.span("job.run"):
            try:
                return saved[(job, "run")](*args, **kwargs)
            finally:
                while tail:
                    tracer._close(tail.pop())          # noqa: SLF001

    job.compile_spec = tracer.wrap(saved[(job, "compile_spec")],
                                   "compile_spec")
    job.run = run
    job.all_violations = tracer.wrap(saved[(job, "all_violations")],
                                     "job.all_violations")
    checkpoint.pending_only = tracer.wrap(
        saved[(checkpoint, "pending_only")], "checkpoint.pending_only")
    checkpoint.write_partitioned = tracer.wrap(
        saved[(checkpoint, "write_partitioned")],
        lambda df, path: "checkpoint.write_partitioned."
                         + os.path.basename(path.rstrip("/")))
    checkpoint.append_manifest = append_manifest
    try:
        yield
    finally:
        for (mod, attr), fn in saved.items():
            setattr(mod, attr, fn)


# ---------------------------------------------------------- event log
def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


_TASK_SUMS = {
    "executor_run_s": ("Executor Run Time", 1e-3),
    "executor_cpu_s": ("Executor CPU Time", 1e-9),
    "jvm_gc_s": ("JVM GC Time", 1e-3),
    "spill_bytes": ("Memory Bytes Spilled", 1),
}


class EventLog:
    """Jobs, stages, task metrics and SQL plan metrics of one event
    log, indexed by job group."""

    def __init__(self, log_dir: str):
        self.job_group: dict[int, str | None] = {}
        self.job_exec: dict[int, int | None] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.accum: dict[int, float] = {}
        self.plans: dict[int, dict] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.job_group[jid] = props.get(GROUP_KEY)
            ex = props.get("spark.sql.execution.id")
            self.job_exec[jid] = int(ex) if ex is not None else None
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], _empty_stage())
            st["name"] = info["Stage Name"]
            st["tasks"] = info["Number of Tasks"]
            st["wall_s"] = (info.get("Completion Time", 0)
                            - info.get("Submission Time", 0)) / 1e3
            for a in info.get("Accumulables", []):
                v = a.get("Value")
                if isinstance(v, (int, float)) or (
                        isinstance(v, str) and v.lstrip("-").isdigit()):
                    self.accum[a["ID"]] = max(self.accum.get(a["ID"], 0),
                                              float(v))
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], _empty_stage())
            m = e.get("Task Metrics") or {}
            if e.get("Task End Reason", {}).get("Reason") != "Success":
                st["failed_tasks"] += 1
            for key, (name, scale) in _TASK_SUMS.items():
                st[key] += m.get(name, 0) * scale
            st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            st["input_bytes"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0))
            st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                          or {}).get("Shuffle Bytes Written", 0)
            st["peak_execution_memory_bytes"] = max(
                st["peak_execution_memory_bytes"],
                m.get("Peak Execution Memory", 0))
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            # the last adaptive update is the plan that actually ran
            self.plans[e["executionId"]] = e["sparkPlanInfo"]

    def jobs_in(self, groups: set[str]) -> list[int]:
        return sorted(j for j, g in self.job_group.items() if g in groups)

    def summary(self, groups: set[str]) -> dict:
        """Counts and task-metric sums over the jobs of `groups`."""
        jobs = set(self.jobs_in(groups))
        stages = [s for sid, s in self.stages.items()
                  if self.stage_job.get(sid) in jobs and s["name"]]
        out = {"jobs": len(jobs), "stages": len(stages),
               "tasks": sum(s["tasks"] for s in stages)}
        for key in _empty_stage():
            if key in ("name", "tasks", "wall_s"):
                continue
            vals = [s[key] for s in stages]
            out[key] = (max(vals, default=0)
                        if key == "peak_execution_memory_bytes"
                        else sum(vals))
        return out

    def stage_table(self, groups: set[str]) -> list[dict]:
        jobs = set(self.jobs_in(groups))
        return [{"stage": sid, "job": self.stage_job[sid],
                 **{k: (round(v, 4) if isinstance(v, float) else v)
                    for k, v in s.items()}}
                for sid, s in sorted(self.stages.items())
                if self.stage_job.get(sid) in jobs and s["name"]]

    def python_nodes(self, groups: set[str]) -> list[dict]:
        """Per Python (Arrow) operator of the jobs' SQL executions: rows
        that reached it (output rows of the nearest row-counting
        operator below it), bytes sent to the workers and worker run
        time."""
        execs = {self.job_exec[j] for j in self.jobs_in(groups)} - {None}
        out = []
        for ex in sorted(execs):
            for node in _walk(self.plans.get(ex)):
                if node["nodeName"] not in ("MapInPandas", "MapInArrow"):
                    continue
                metric = {m["name"]: m["accumulatorId"]
                          for m in node["metrics"]}
                rows_in = _rows_below(node, self.accum)
                out.append({
                    "node": node["nodeName"],
                    "rows_in": rows_in,
                    "bytes_sent": self.accum.get(
                        metric.get("data sent to Python workers"), 0),
                    "python_run_ms": self.accum.get(
                        metric.get("time to run Python workers"), 0),
                })
        return out


def _empty_stage() -> dict:
    return {"name": None, "tasks": 0, "wall_s": 0.0, "failed_tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "jvm_gc_s": 0.0,
            "spill_bytes": 0, "input_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "peak_execution_memory_bytes": 0}


def _walk(plan):
    if plan is None:
        return
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(reversed(node.get("children", [])))


def _rows_below(node: dict, accum: dict[int, float]) -> float:
    """Output rows of the first operator under `node` that counts
    them (projections and codegen wrappers do not)."""
    stack = list(reversed(node.get("children", [])))
    while stack:
        n = stack.pop(0)
        for m in n["metrics"]:
            if m["name"] == "number of output rows":
                return accum.get(m["accumulatorId"], 0)
        stack[:0] = n.get("children", [])
    return 0
