"""Tracing for the benchmark's traced run.

Spans are recorded by the benchmark around each call into a layer's public
function (name, start, end, parent, operation id), kept in memory and
written out at the end.  While a span is open its name is the Spark job
description, and each traced operation's jobs carry a job group equal to
the operation id, so Spark's own job, stage and task metrics (read from
the status REST API, which the session exposes when ``SPARK_GRAFT_UI`` is
set) can be attributed to operations and layers.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import statistics
import time
import urllib.request


class Tracer:
    """Span recorder.  ``active`` is False for untraced operations: spans
    are then a shared no-op context and Spark local properties are left
    unset, so an untraced operation does exactly what a user's call does."""

    def __init__(self) -> None:
        self.sc = None  # set once the session exists; None = never traced
        self.active = False
        self.op_id: str | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._null = contextlib.nullcontext()

    def span(self, name: str):
        if not self.active:
            return self._null
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(self._stack[-1]["name"] if self._stack else None)

    @contextlib.contextmanager
    def operation(self, op_id: str, traced: bool):
        """One benchmark operation; ``traced`` switches spans and job
        tagging on for its duration."""
        self.active, self.op_id = traced, op_id
        if traced and self.sc is not None:
            self.sc.setJobGroup(op_id, op_id)
        try:
            with self.span("op"):
                yield
        finally:
            if traced and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setJobDescription(None)
            self.active, self.op_id = False, None

    def spans_of(self, op_id: str, name: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id and s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        """Write every span with its self time (duration minus the time its
        children cover; children of one span never overlap here)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        rows = []
        for s in self.spans:
            dur = (s["end"] or s["start"]) - s["start"]
            rows.append({**s, "dur_s": dur, "self_s": dur - child_time.get(s["id"], 0.0)})
        by_name: dict[str, float] = {}
        for r in rows:
            by_name[r["name"]] = by_name.get(r["name"], 0.0) + r["self_s"]
        with open(path, "w") as fh:
            json.dump({"spans": rows, "self_s_by_name": by_name, **extra}, fh, indent=1)


# --------------------------------------------------------------------------
# Spark status REST API


class SparkStatus:
    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def settle(self, groups: set[str], timeout: float = 20.0) -> list[dict]:
        """All jobs, once the listener bus has caught up: every job group
        in ``groups`` has a job and no job is still running."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = self.get("jobs")
            seen = {j.get("jobGroup") for j in jobs}
            if (groups <= seen and all(j["status"] != "RUNNING" for j in jobs)) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)


def _ts(s: str | None) -> float | None:
    """Spark REST timestamps ('2026-01-01T12:00:00.123GMT') -> epoch s."""
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(status: SparkStatus, tracer: Tracer, ops: list[dict], job_kinds: dict[str, str]) -> dict:
    """Per-layer numbers over the traced operations.

    ``ops``: [{"id", "t0", "t1", "info"}] with epoch start/end.
    ``job_kinds`` maps a job description (the span that ran the job) to
    'scan' (bamjvm record scan: the job's input stages) or 'write' (bamjvm
    sink: every stage of the job).  Each metric is the median over operations of the per-
    operation value, except where noted."""
    jobs = status.settle({op["id"] for op in ops})
    stages = status.get("stages?details=false")
    by_stage: dict[int, list[dict]] = {}
    for s in stages:
        if s["status"] in ("COMPLETE", "FAILED", "ACTIVE"):
            by_stage.setdefault(s["stageId"], []).append(s)
    jobs_by_group: dict[str, list[dict]] = {}
    for j in jobs:
        jobs_by_group.setdefault(j.get("jobGroup"), []).append(j)

    per_op = []
    rows_read = rows_needed = 0
    for op in ops:
        js = jobs_by_group.get(op["id"], [])
        kinds: dict[str, list[dict]] = {"scan": [], "write": []}
        op_stages = []
        for j in js:
            kind = job_kinds.get(j.get("description") or "")
            for sid in j["stageIds"]:
                for s in by_stage.get(sid, []):
                    op_stages.append(s)
                    if (kind == "scan" and s["inputRecords"] > 0) or kind == "write":
                        kinds[kind].append(s)
        scan = kinds["scan"]
        durations, sched = [], 0.0
        for s in scan:
            for t in status.get(f"stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000"):
                durations.append(t.get("duration") or 0)
                sched += t.get("schedulerDelay") or 0
        submits = [_ts(j.get("submissionTime")) for j in js if j.get("submissionTime")]
        ends = [_ts(j.get("completionTime")) for j in js if j.get("completionTime")]
        rows_read += sum(s["inputRecords"] for s in scan)
        rows_needed += op["info"].get("rows", 0)
        per_op.append({
            "jobs": len(js),
            "pre": min(submits) - op["t0"] if submits else 0.0,
            "post": op["t1"] - max(ends) if ends else 0.0,
            "read_bam": sum(sp["end"] - sp["start"] for sp in tracer.spans_of(op["id"], "bam.reader.read_bam")),
            "scan_tasks": sum(s["numTasks"] for s in scan),
            "scan_busy": sum(s["executorRunTime"] for s in scan) / 1e3,
            "scan_cpu": sum(s["executorCpuTime"] for s in scan) / 1e9,
            "scan_skew": max(durations) / statistics.median(durations) if durations and statistics.median(durations) > 0 else 0.0,
            "scan_sched": sched / 1e3,
            "write_busy": sum(s["executorRunTime"] for s in kinds["write"]) / 1e3,
            "write_bytes": op["info"].get("bytes_out", 0),
            "sh_w": sum(s["shuffleWriteBytes"] for s in op_stages),
            "sh_r": sum(s["shuffleReadBytes"] for s in op_stages),
            "sh_wait": sum(s.get("shuffleFetchWaitTime", 0) for s in op_stages) / 1e3,
            "gc": sum(s["jvmGcTime"] for s in op_stages) / 1e3,
        })

    def med(key: str) -> float:
        return _median([p[key] for p in per_op])

    failed = sum(s["numFailedTasks"] + s["numKilledTasks"] + (1 if s["attemptId"] > 0 else 0) for s in stages)
    return {
        "bam.reader.read_bam_s": med("read_bam"),
        "plan.pre_job_s": med("pre"),
        "plan.post_job_s": med("post"),
        "jobs.per_op": statistics.fmean(p["jobs"] for p in per_op) if per_op else 0.0,
        "bamjvm.scan.tasks": med("scan_tasks"),
        "bamjvm.scan.task_busy_s": med("scan_busy"),
        "bamjvm.scan.task_cpu_s": med("scan_cpu"),
        "bamjvm.scan.task_max_over_median": med("scan_skew"),
        "bamjvm.scan.sched_wait_s": med("scan_sched"),
        # ratio of sums over all traced operations (a query may match 0 rows)
        "pushdown.rows_read_per_row_returned": rows_read / rows_needed if rows_needed else 0.0,
        "shuffle.write_bytes": med("sh_w"),
        "shuffle.read_bytes": med("sh_r"),
        "shuffle.fetch_wait_s": med("sh_wait"),
        "bamjvm.write.task_busy_s": med("write_busy"),
        "bamjvm.write.bytes_out": med("write_bytes"),
        "exec.gc_s": med("gc"),
        "tasks.failed": failed,
    }


def group_busy_s(status: SparkStatus, group: str) -> float:
    """Summed executor run time of every stage of a job group's jobs."""
    jobs = [j for j in status.settle({group}) if j.get("jobGroup") == group]
    ids = {sid for j in jobs for sid in j["stageIds"]}
    return sum(
        s["executorRunTime"] for s in status.get("stages?details=false")
        if s["stageId"] in ids and s["status"] == "COMPLETE"
    ) / 1e3
