"""Stage metrics from Spark's own event log, attributed to benchmark spans.

The traced pass sets the local property ``perfbench.span`` before each call
into the program. Spark copies local properties onto every job it starts,
so each completed stage in the event log can be traced back to the span
that caused it.
"""
from __future__ import annotations

import json
import pathlib
import statistics
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Stage:
    span: str
    wall_s: float
    scopes: set[str]
    #: stage-level accumulables by name: Spark's SQL metrics land here
    accum: dict[str, float]
    tasks: list[dict] = field(default_factory=list)

    @property
    def is_scan(self) -> bool:
        return any(s.startswith("Scan parquet") for s in self.scopes)

    @property
    def is_udf(self) -> bool:
        return "ArrowEvalPython" in self.scopes

    def task_sum(self, *path: str) -> float:
        total = 0.0
        for t in self.tasks:
            v = t
            for key in path:
                v = v[key]
            total += v
        return total


def read_stages(event_dir: pathlib.Path) -> list[Stage]:
    """Completed stages of every job that ran under a span, in stage order.
    Skipped stages never complete and so are not listed."""
    events = []
    for f in sorted(p for p in event_dir.rglob("*") if p.is_file()):
        if f.name.startswith((".", "appstatus")):
            continue
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    stage_span: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    stages: list[Stage] = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = (e.get("Properties") or {}).get(SPAN_PROPERTY)
            if span:
                for sid in e["Stage IDs"]:
                    stage_span[sid] = span
        elif kind == "SparkListenerTaskEnd":
            if e["Task End Reason"]["Reason"] == "Success":
                tasks.setdefault(e["Stage ID"], []).append(e["Task Metrics"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid not in stage_span or "Failure Reason" in info:
                continue
            scopes = {
                json.loads(r["Scope"])["name"]
                for r in info["RDD Info"]
                if r.get("Scope")
            }
            accum = {}
            for a in info["Accumulables"]:
                try:
                    accum[a["Name"]] = accum.get(a["Name"], 0.0) + float(a["Value"])
                except (TypeError, ValueError):
                    continue
            stages.append(
                Stage(
                    span=stage_span[sid],
                    wall_s=(info["Completion Time"] - info["Submission Time"]) / 1e3,
                    scopes=scopes,
                    accum=accum,
                    tasks=tasks.get(sid, []),
                )
            )
    return stages


def _ratio_max(values: list[float], centre) -> float:
    """``max(values) / centre(values)``; 1.0 for fewer than two values."""
    if len(values) < 2 or centre(values) <= 0:
        return 1.0
    return max(values) / centre(values)


def stage_metrics(stages: list[Stage]) -> dict[str, float]:
    """The per-layer numbers Spark itself measured for one set of stages."""
    scan = [s for s in stages if s.is_scan]
    udf = [s for s in stages if s.is_udf]
    shuffled = [
        s for s in stages
        if s.task_sum("Shuffle Read Metrics", "Total Records Read") > 0
    ]
    return {
        "scan.s": sum(s.wall_s for s in scan),
        "scan.partitions": sum(len(s.tasks) for s in scan),
        "scan.nonempty_partitions": sum(
            1 for s in scan for t in s.tasks
            if t["Input Metrics"]["Records Read"] > 0
        ),
        "shuffle.s": sum(
            s.task_sum("Shuffle Write Metrics", "Shuffle Write Time") / 1e9
            + s.task_sum("Shuffle Read Metrics", "Fetch Wait Time") / 1e3
            for s in stages
        ),
        "shuffle.rows_max_over_mean": max(
            (
                _ratio_max(
                    [t["Shuffle Read Metrics"]["Total Records Read"] for t in s.tasks],
                    statistics.mean,
                )
                for s in shuffled
            ),
            default=0.0,
        ),
        "stage.udf.run_s": sum(s.task_sum("Executor Run Time") for s in udf) / 1e3,
        "stage.udf.cpu_s": sum(s.task_sum("Executor CPU Time") for s in udf) / 1e9,
        "stage.udf.gc_s": sum(s.task_sum("JVM GC Time") for s in udf) / 1e3,
        "stage.udf.task_skew": max(
            (
                _ratio_max([t["Executor Run Time"] for t in s.tasks], statistics.median)
                for s in udf
            ),
            default=0.0,
        ),
        # ArrowEvalPython's SQL metrics: time inside the Python workers and
        # the bytes that cross the JVM/Python boundary each way
        "stage.udf.python_run_s": sum(
            s.accum.get("time to run Python workers", 0.0) for s in udf
        ) / 1e3,
        "stage.udf.bytes_to_python": sum(
            s.accum.get("data sent to Python workers", 0.0) for s in udf
        ),
        "stage.udf.bytes_from_python": sum(
            s.accum.get("data returned from Python workers", 0.0) for s in udf
        ),
        "stage.shuffle_write_bytes": sum(
            s.task_sum("Shuffle Write Metrics", "Shuffle Bytes Written") for s in stages
        ),
        "stage.spill_bytes": sum(
            s.task_sum("Memory Bytes Spilled") + s.task_sum("Disk Bytes Spilled")
            for s in stages
        ),
    }
