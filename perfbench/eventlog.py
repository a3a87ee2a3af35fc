"""Fold a Spark event log into per-layer counts, attributed to spans.

The traced run turns on Spark's own event log (uncompressed JSON lines)
and records a span around every call it makes into the program. This
module reads that log and credits each job to the innermost span that was
open when the job was submitted. Attribution is by submission time, not by
job group: streaming micro-batches run on the stream thread under the
query's run-id group, yet they are submitted while the caller's span is
open, so they land on the row that started them.

Task-side SQL metrics (Python-worker time, state-store commits, rows out
of a plan node) come from each task's accumulator updates. Driver-side SQL
metrics (files read by a scan) come from ``SparkListenerDriverAccumUpdates``
and are credited through the SQL execution they belong to.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import statistics
from dataclasses import dataclass, field

# Plan nodes that hand rows to Python workers.
PYTHON_NODES = ("Python", "InPandas", "InArrow")


@dataclass
class Span:
    """One timed call made by the benchmark, in epoch milliseconds."""

    name: str
    start_ms: float
    end_ms: float
    parent: int | None = None


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int
    stage_ids: list[int]
    span: int | None = None


@dataclass
class StageTotals:
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    accum: dict[int, float] = field(default_factory=dict)


@dataclass
class Fold:
    jobs: list[Job]
    stages: dict[int, StageTotals]
    stage_job: dict[int, int]
    # accumulator id -> (plan node name, metric name, metric type)
    accum_info: dict[int, tuple[str, str, str]]
    exec_span: dict[int, int | None]
    driver_accum: dict[int, dict[int, float]]
    spans: list[Span]


def read_events(path: str) -> list[dict]:
    """Events from one log file, or from every ``events_*`` file of a
    rolled ``eventlog_v2_*`` directory, in order."""
    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    else:
        files = [path]
    events = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    return events


def _walk_plan(info: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"], m["metricType"])
    for child in info.get("children", []):
        _walk_plan(child, out)


class _SpanIndex:
    """Innermost span open at a given time."""

    def __init__(self, spans: list[Span]):
        self.spans = spans
        self.order = sorted(range(len(spans)), key=lambda i: spans[i].start_ms)
        self.starts = [spans[i].start_ms for i in self.order]

    def at(self, t_ms: float) -> int | None:
        # spans nest, so the latest-starting span that still covers t is
        # the innermost
        for pos in range(bisect.bisect_right(self.starts, t_ms) - 1, -1, -1):
            i = self.order[pos]
            if self.spans[i].end_ms >= t_ms:
                return i
        return None


def fold(events: list[dict], spans: list[Span]) -> Fold:
    index = _SpanIndex(spans)
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    stage_job: dict[int, int] = {}
    accum_info: dict[int, tuple[str, str, str]] = {}
    exec_span: dict[int, int | None] = {}
    driver_accum: dict[int, dict[int, float]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            job = Job(
                job_id=e["Job ID"],
                submit_ms=e["Submission Time"],
                end_ms=e["Submission Time"],
                stage_ids=list(e.get("Stage IDs", [])),
                span=index.at(e["Submission Time"]),
            )
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], StageTotals())
            m = e.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") != "sql":
                    continue
                try:
                    upd = float(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                st.accum[acc["ID"]] = st.accum.get(acc["ID"], 0.0) + upd
        elif kind.endswith("SQLExecutionStart"):
            exec_span[e["executionId"]] = index.at(e["time"])
            _walk_plan(e.get("sparkPlanInfo") or {}, accum_info)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(e.get("sparkPlanInfo") or {}, accum_info)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            acc = driver_accum.setdefault(e["executionId"], {})
            for acc_id, value in e.get("accumUpdates", []):
                acc[acc_id] = acc.get(acc_id, 0.0) + float(value)
    return Fold(
        jobs=sorted(jobs.values(), key=lambda j: j.job_id),
        stages=stages,
        stage_job=stage_job,
        accum_info=accum_info,
        exec_span=exec_span,
        driver_accum=driver_accum,
        spans=spans,
    )


def _under(fold_: Fold, span: int | None, roots: set[int]) -> bool:
    while span is not None:
        if span in roots:
            return True
        span = fold_.spans[span].parent
    return False


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
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


def layers(fold_: Fold, roots: set[int]) -> dict[str, float]:
    """Layer counts for the jobs submitted inside any span in ``roots``
    or its descendants."""
    jobs = [j for j in fold_.jobs if _under(fold_, j.span, roots)]
    job_ids = {j.job_id for j in jobs}
    ran = {
        sid: st
        for sid, st in fold_.stages.items()
        if fold_.stage_job.get(sid) in job_ids
    }
    tasks_per_stage = [st.tasks for st in ran.values()]
    by_metric: dict[str, float] = {}
    python_rows = 0.0
    for st in ran.values():
        for acc_id, value in st.accum.items():
            node, name, mtype = fold_.accum_info.get(acc_id, ("", "", ""))
            if mtype == "nsTiming":
                value /= 1e6
            by_metric[name] = by_metric.get(name, 0.0) + value
            if name == "number of output rows" and any(p in node for p in PYTHON_NODES):
                python_rows += value
    files_read = 0.0
    for exec_id, accs in fold_.driver_accum.items():
        if not _under(fold_, fold_.exec_span.get(exec_id), roots):
            continue
        for acc_id, value in accs.items():
            if fold_.accum_info.get(acc_id, ("", "", ""))[1] == "number of files read":
                files_read += value
    run_ms = sum(st.run_ms for st in ran.values())
    return {
        "jobs": float(len(jobs)),
        "stages": float(len(ran)),
        "tasks": float(sum(tasks_per_stage)),
        "tasks_per_stage_p50": (
            float(statistics.median(tasks_per_stage)) if tasks_per_stage else 0.0
        ),
        "single_task_stage_share": (
            sum(1 for n in tasks_per_stage if n == 1) / len(tasks_per_stage)
            if tasks_per_stage
            else 0.0
        ),
        "executor_run_s": run_ms / 1000,
        "gc_s": sum(st.gc_ms for st in ran.values()) / 1000,
        "shuffle_write_mb": sum(st.shuffle_write_bytes for st in ran.values()) / 1e6,
        "spill_mb": sum(st.spill_bytes for st in ran.values()) / 1e6,
        "python_worker_s": by_metric.get("time to run Python workers", 0.0) / 1000,
        "python_worker_start_ms": by_metric.get("time to start Python workers", 0.0)
        + by_metric.get("time to initialize Python workers", 0.0),
        "python_rows": python_rows,
        "state_commit_s": by_metric.get("time to commit changes", 0.0) / 1000,
        "state_instances": by_metric.get("number of state store instances", 0.0),
        "files_read": files_read,
        "job_busy_s": _union_ms([(j.submit_ms, j.end_ms) for j in jobs]) / 1000,
    }
