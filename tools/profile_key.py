"""Per-key profiler for the optimization rounds: bench.py's session
(plus the UI, for REST metrics) and timing loop, one key at a time —
construct/execute split like the bench, plus per-JOB wall times and
per-stage shuffle/spill/input so the time can be attributed to a
specific job (localCheckpoint, count, noop write) instead of guessed.

Usage: python tools/profile_key.py [sf_dir] key [key ...]
Env: SPARK_GRAFT_CPUS (default 32) — same dial as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session, bench_tables, time_keys  # noqa: E402

SF_DIR = (
    sys.argv[1]
    if len(sys.argv) > 1 and "/" in sys.argv[1]
    else "/root/testdata/sf0.1"
)
KEYS = [a for a in sys.argv[1:] if "/" not in a]


def rest(spark, path: str):
    app_id = spark.sparkContext.applicationId
    url = f"http://localhost:4040/api/v1/applications/{app_id}{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def main() -> None:
    # REST metrics need the UI (the bench runs with it off)
    spark = bench_session("profile_key", {"spark.ui.enabled": "true"})
    t = bench_tables(spark, SF_DIR)

    for name in KEYS:
        # warm rep first (bench takes best-of-2); profile the SECOND rep
        time_keys(t, [name], reps=1)
        first_job = max((j["jobId"] for j in rest(spark, "/jobs")), default=-1) + 1
        first_stage = max(
            (s["stageId"] for s in rest(spark, "/stages")), default=-1
        ) + 1
        runs, errors = time_keys(t, [name], reps=1)
        if errors:
            print(f"\n=== {name} @ {SF_DIR}  FAILED: {errors[name]}")
            continue
        [(construct, execute)] = runs[name]
        print(f"\n=== {name} @ {SF_DIR}  construct={construct:.3f}s "
              f"execute={execute:.3f}s total={construct + execute:.3f}s "
              "(warm rep)")
        jobs = [j for j in rest(spark, "/jobs") if j["jobId"] >= first_job]
        jobs.sort(key=lambda j: j["jobId"])
        print(f"{'job':>4} {'sec':>7} {'stages':>6} {'tasks':>6}  description")
        for j in jobs:
            try:
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                dur = (
                    datetime.strptime(j["completionTime"], fmt)
                    - datetime.strptime(j["submissionTime"], fmt)
                ).total_seconds()
            except Exception:
                dur = float("nan")
            desc = (j.get("description") or j.get("name", ""))[:90]
            print(
                f"{j['jobId']:>4} {dur:>7.3f} {len(j.get('stageIds', [])):>6} "
                f"{j.get('numTasks', 0):>6}  {desc}"
            )
        stages = [
            s
            for s in rest(spark, "/stages?status=complete")
            if s["stageId"] >= first_stage
        ]
        stages.sort(key=lambda s: -s.get("executorRunTime", 0))
        print(f"{'stage':>5} {'runtime_s':>9} {'tasks':>5} {'in_mb':>7} "
              f"{'sh_r_mb':>8} {'sh_w_mb':>8}  name")
        for s in stages[:12]:
            print(
                f"{s['stageId']:>5} {s.get('executorRunTime', 0) / 1e3:>9.2f} "
                f"{s.get('numTasks', 0):>5} {s.get('inputBytes', 0) / 2**20:>7.1f} "
                f"{s.get('shuffleReadBytes', 0) / 2**20:>8.2f} "
                f"{s.get('shuffleWriteBytes', 0) / 2**20:>8.2f}  "
                f"{s.get('name', '')[:60]}"
            )


if __name__ == "__main__":
    main()
