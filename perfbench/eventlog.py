"""Fold Spark's uncompressed event log into per-job-group figures.

The dashboard workload runs each operation's jobs under its own job
group. For each group: executor run time, shuffle bytes written, and the
busy intervals of its jobs (submission to completion), from which the
driver gap of an operation is its wall time minus the time at least one
of its jobs was running.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict


def fold(log_dir: str) -> dict[str, dict]:
    """group id -> {executor_ms, shuffle_bytes, intervals}."""
    job_group: dict[tuple, str] = {}
    stage_job: dict[tuple, tuple] = {}
    job_start: dict[tuple, float] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"executor_ms": 0.0, "shuffle_bytes": 0, "intervals": []}
    )
    for n, app in enumerate(sorted(glob.glob(os.path.join(log_dir, "*")))):
        with open(app) as f:
            lines = list(f)
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                job = (n, ev["Job ID"])
                job_group[job] = group
                job_start[job] = ev["Submission Time"] / 1e3
                for sid in ev["Stage IDs"]:
                    stage_job[(n, sid)] = job
            elif kind == "SparkListenerJobEnd":
                job = (n, ev["Job ID"])
                if job in job_group:
                    groups[job_group[job]]["intervals"].append(
                        (job_start[job], ev["Completion Time"] / 1e3)
                    )
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get((n, ev["Stage ID"]))
                if job is None:
                    continue
                g = groups[job_group[job]]
                m = ev.get("Task Metrics") or {}
                g["executor_ms"] += m.get("Executor Run Time", 0)
                g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return dict(groups)


def busy_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
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
