"""Spark event-log parser: job description -> stages -> task metrics.

Reads an uncompressed, non-rolling event log (``spark.eventLog.compress``
and ``spark.eventLog.rolling.enabled`` both false) and sums the
``SparkListenerTaskEnd`` metrics of every stage under the job
description (``SparkContext.setJobDescription``) its stage was
submitted with.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass

_MB = 1024.0 * 1024.0
_WANTED = (
    "SparkListenerTaskEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
)


@dataclass
class StepCost:
    """Spark-side cost of every stage run under one job description."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    #: summed executor CPU time, seconds (JVM threads only)
    cpu_s: float = 0.0
    #: summed per-task run time not spent on JVM CPU, seconds: time in
    #: Python workers and the Arrow boundary, plus I/O and lock waits
    udf_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    written_mb: float = 0.0
    rows_written: int = 0
    #: worst stage's max / median task duration
    task_skew: float = 0.0
    #: wall time covered by at least one running job, seconds
    job_wall_s: float = 0.0


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def parse(path: str) -> dict[str, StepCost]:
    """Map each job description seen in the log to its :class:`StepCost`.
    Stages submitted without a description are left out."""
    stage_desc: dict[int, str] = {}
    job_desc: dict[int, str] = {}
    job_start: dict[int, int] = {}
    job_spans: dict[str, list[tuple[int, int]]] = defaultdict(list)
    task_ms: dict[int, list[int]] = defaultdict(list)
    costs: dict[str, StepCost] = defaultdict(StepCost)
    ends = []
    with open(path) as f:
        for line in f:
            head = line[:64]
            if not any(w in head for w in _WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if desc:
                    stage_desc[ev["Stage Info"]["Stage ID"]] = desc
            elif kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if desc:
                    job_desc[ev["Job ID"]] = desc
                    job_start[ev["Job ID"]] = ev["Submission Time"]
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_desc:
                    job_spans[job_desc[jid]].append((job_start[jid], ev["Completion Time"]))
            else:
                ends.append(ev)
    for ev in ends:
        desc = stage_desc.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if desc is None or not m:
            continue
        c = costs[desc]
        c.tasks += 1
        run_s = m["Executor Run Time"] / 1000.0
        cpu_s = m["Executor CPU Time"] / 1e9
        c.cpu_s += cpu_s
        c.udf_s += max(0.0, run_s - cpu_s)
        c.shuffle_write_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
        c.spill_mb += m["Disk Bytes Spilled"] / _MB
        c.written_mb += m["Output Metrics"]["Bytes Written"] / _MB
        c.rows_written += m["Output Metrics"]["Records Written"]
        info = ev["Task Info"]
        task_ms[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
    for sid, durs in task_ms.items():
        c = costs[stage_desc[sid]]
        c.stages += 1
        skew = max(durs) / max(1.0, statistics.median(durs))
        c.task_skew = max(c.task_skew, skew)
    for desc, spans in job_spans.items():
        costs[desc].jobs = len(spans)
        costs[desc].job_wall_s = _union_seconds(spans)
    return dict(costs)
