"""Run one workload once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload live_votes --seeds 1-10 [--seconds N] [--trace 0]

For every metric: the median over the runs and the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median. ``--seconds`` defaults to ``run_seconds`` of
``BENCHMARK.json``. Run from the root of a checkout; runs are
sequential, each a fresh ``run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    if args.seconds is None:
        with open("BENCHMARK.json") as f:
            args.seconds = str(json.load(f)["run_seconds"])
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        detail = json.loads(lines[0])  # the run's details line
        row = {k: v["value"] for k, v in res["metrics"].items()}
        if args.trace == "0":  # reported per layer, not gated: see README
            row.update({f"({k})": v for k, v in detail["ungated"].items()})
        print(f"seed {seed}: {time.time() - t0:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items())
              + " " + " ".join(f"{k}={v:.3g}" for k, v in detail["host"].items()), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], 0, v[0])
        share = (q3 - q1) / med if med else float("nan")
        print(f"{k:40s} median {med:14.4f}  iqr/median {share:.3f}  n={len(v)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
