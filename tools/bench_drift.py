"""Drift re-check: re-run the bench keys that moved most between two
BENCH records, standalone, best-of-N — so "did key X regress or was the
box busy?" is answered in-band instead of by archaeology over load
averages (PERF.md documents 117→137s whole-bench swings at zero local
processes on this shared host).

Usage: python tools/bench_drift.py BENCH_old.json BENCH_new.json [top] [reps]

Picks the ``top`` (default 3) keys with the largest new/old TOTAL-time
ratio among keys present in both records, re-runs each best-of-``reps``
(default 3) on bench.py's session and timing loop, and prints ONE JSON
line per invocation:

  {"metric": "bench_drift_recheck", "keys": {name: {"old": s, "new": s,
   "ratio": r, "rerun_best": s, "rerun_all": [[c, e], ...]}}, ...}

A rerun_best back near ``old`` (or well under ``new``) means the bench
delta was host drift; a rerun_best that reproduces ``new`` is a real
regression to investigate. Reruns go through bench.time_keys, so each
rep is split like the bench record: ``rerun_best`` is the fastest rep's
execute seconds (what ``old``/``new`` hold when the records carry an
execute map), ``rerun_all`` lists every rep as [construct, execute].
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session, bench_tables, time_keys  # noqa: E402
from realtimevotingdataengineer_spark.registry import QUERIES  # noqa: E402


def _per_key(path: str) -> dict[str, float]:
    """Per-key seconds from either bench.py's own record ({"queries":
    ...}) or the driver's BENCH_r{N}.json wrapper, whose ``tail`` holds
    only the LAST 2000 chars of the line (the execute map + loads) —
    recover whatever '"name": number' pairs survived truncation. The
    two record kinds aren't comparable to each other (total vs execute
    seconds), so compare like with like: two driver wrappers or two raw
    records."""
    import re

    with open(path) as f:
        # the first JSON value: bench.py prints its full record, then a
        # compact summary line
        rec, _ = json.JSONDecoder().raw_decode(f.read().lstrip())
    if "execute" in rec:  # prefer execute: it's what driver tails carry
        return {k: float(v) for k, v in rec["execute"].items()}
    if "queries" in rec:
        return {k: float(v) for k, v in rec["queries"].items()}
    frag = rec.get("tail", "")
    return {
        m.group(1): float(m.group(2))
        for m in re.finditer(r'"([a-z0-9_]+)":\s*([0-9.]+)', frag)
        if m.group(1) in QUERIES
    }


def main() -> None:
    old_q = _per_key(sys.argv[1])
    new_q = _per_key(sys.argv[2])
    top = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    common = [k for k in new_q if k in old_q and old_q[k] > 0 and k in QUERIES]
    moved = sorted(common, key=lambda k: new_q[k] / old_q[k])[-top:][::-1]

    load_start = list(os.getloadavg())
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    t = bench_tables(bench_session("bench_drift"), sf_dir)
    runs, errors = time_keys(t, moved, reps)

    out: dict[str, dict] = {}
    for name, parts in runs.items():
        out[name] = {
            "old": old_q[name],
            "new": new_q[name],
            "ratio": round(new_q[name] / old_q[name], 3),
            "rerun_best": round(min(parts, key=sum)[1], 3),
            "rerun_all": [[round(c, 3), round(e, 3)] for c, e in parts],
        }
    print(
        json.dumps(
            {
                "metric": "bench_drift_recheck",
                "sf_dir": sf_dir,
                "reps": reps,
                "keys": out,
                "errors": errors,
                "load_avg_start": load_start,
                "load_avg_end": list(os.getloadavg()),
            }
        )
    )


if __name__ == "__main__":
    main()
