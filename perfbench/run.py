"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds nothing: the program is the
``realtimevotingdataengineer_spark`` package of the checkout, imported
from there (and put on ``PYTHONPATH`` for Spark's Python workers).

A run sets up several times (session start, seeded input generation,
warm-up until timings stop falling) and reports the median set-up time
as ``setup_s``; after each set-up it measures for an equal share of
``--seconds``, pooling the samples; it checks the outputs and prints
every metric by name with its unit. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.

A traced run first repeats the timed run, then sets up once more with
tracing on (spans, job groups, an uncompressed event log) and measures
again. It reports the per-layer figures of the traced window, the traced
end-to-end figures, and their overhead against the untraced window.

``--smoke`` shrinks every workload to a few seconds (self-tests);
``--plant tally|digest`` plants a wrong expected result and ``--plant
raise`` a program call that raises (self-tests).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.metrics import DASHBOARD_KEYS, E2E, UNGATED, PER_LAYER  # noqa: E402

#: ``warm_min`` is (first cycle, later cycles): the first warms a fresh JVM.
#: Warm-ups end on an operation count and flat timings, never on a short
#: time cap (``warm_max_s`` is a safety net): a cap let a slow host start
#: the window with a colder JIT.
SIZES = {
    "live_votes": {"votes_per_file": 250, "pause_s": 0.05, "timeout_s": 15,
                   "warm_min": (6, 3), "warm_max_ops": 40, "warm_max_s": 30},
    "dashboard": {"sf": 0.1, "warm_min": (6, 3), "warm_max_ops": 15, "warm_max_s": 30},
}
SMOKE = {
    "live_votes": {"votes_per_file": 20, "warm_min": (2, 1), "warm_max_s": 3},
    "dashboard": {"sf": 0.002, "warm_min": (1, 1), "warm_max_ops": 1},
}
SETUP_CYCLES = 3


class Ctx:
    """What a workload function gets: its inputs and settings, the span
    recorder, the set-up driver and a place for details."""

    def __init__(self, args, trace: bool, setup_cycles: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.plant = args.plant
        self.trace = trace
        self.tag = "t" if trace else "u"  # keeps a traced pass's dirs and names apart
        self.size = {**SIZES[args.workload], **(SMOKE[args.workload] if args.smoke else {})}
        self.tracer = harness.Tracer(trace)
        self.setup_cycles = setup_cycles
        self.setup_s: list[float] = []
        self.warm_log: list[dict] = []
        self.notes: dict = {}

    def cycles(self, setup, measure) -> None:
        """Set up ``setup_cycles`` times, timing each set-up, and after
        each measure for an equal share of the window: the samples of
        every cycle are pooled, so no one session's level decides the
        figures. ``measure(cycle, seconds)`` also tears the cycle down."""
        for c in range(self.setup_cycles):
            t0 = time.perf_counter()
            setup(c)
            self.setup_s.append(time.perf_counter() - t0)
            measure(c, self.seconds / self.setup_cycles)

    def warm(self, op, cycle: int, window: int) -> None:
        """``harness.warm_until_flat`` with this workload's counts, its op
        times kept for the run's details so set-up time can be attributed.
        An op that raises ends the warm-up; the measurement then counts
        the failure."""
        t0 = time.perf_counter()
        try:
            ops = [round(x, 3) for x in harness.warm_until_flat(
                op, min_ops=self.size["warm_min"][min(cycle, 1)], max_ops=self.size["warm_max_ops"],
                max_s=self.size["warm_max_s"], window=window)]
        except Exception as ex:
            ops = [repr(ex)[:300]]
        self.warm_log.append({"warm_s": round(time.perf_counter() - t0, 3), "ops": ops})

    def note(self, **kw) -> None:
        self.notes.update(kw)


def _workload_fn(name: str):
    from perfbench import dashboard, stream

    return {"live_votes": stream.live_votes, "dashboard": dashboard.dashboard}[name]


def _fold_eventlog(res: dict, tracer) -> None:
    """Per-key jobs, executor time, shuffle bytes and driver gap per
    operation from the event log: each dashboard op (warm-up ops too) ran
    its jobs under ``<key>:<phase>:<n>``."""
    from perfbench import eventlog

    log_dir = os.path.join(harness.WORK, "eventlog")
    if not os.path.isdir(log_dir):
        return
    groups = eventlog.fold(log_dir)
    for k in DASHBOARD_KEYS:
        ops = [sp for sp in tracer.spans if sp["name"] == "op" and sp.get("key") == k]
        if not ops:
            continue
        jobs = executor_ms = shuffle = gap_ms = 0.0
        for sp in ops:
            parts = [groups[g] for g in (f"{k}:construct:{sp['n']}", f"{k}:execute:{sp['n']}") if g in groups]
            jobs += sum(len(p["intervals"]) for p in parts)
            executor_ms += sum(p["executor_ms"] for p in parts)
            shuffle += sum(p["shuffle_bytes"] for p in parts)
            busy = eventlog.busy_s([iv for p in parts for iv in p["intervals"]])
            gap_ms += max(0.0, (sp["end"] - sp["start"]) - busy) * 1e3
        res["layers"][f"jobs.{k}"] = jobs / len(ops)
        res["layers"][f"executor_ms.{k}"] = executor_ms / len(ops)
        res["layers"][f"shuffle_bytes.{k}"] = shuffle / len(ops)
        res["layers"][f"driver_gap_ms.{k}"] = gap_ms / len(ops)


def run(args) -> dict:
    harness.prepare_work_area()
    harness.import_program()
    load0, calib0, steal0 = os.getloadavg()[0], harness.calibrate_ms(), harness.cpu_jiffies()
    fn = _workload_fn(args.workload)
    ctx = Ctx(args, trace=False, setup_cycles=SETUP_CYCLES)
    res = fn(ctx)
    e2e = {**res["e2e"], "setup_s": harness.median(ctx.setup_s)}
    detail = {"workload": args.workload, "seed": args.seed, "samples": res["samples"],
              "ungated": {name: e2e[name] for name, *_ in UNGATED},
              "setup_cycles_s": ctx.setup_s, "warm_up": ctx.warm_log, "notes": ctx.notes}
    attempted, failed = res["attempted"], res["failed"]
    metrics = {name: e2e[name] for name, *_ in E2E}
    if args.trace:
        tctx = Ctx(args, trace=True, setup_cycles=1)
        tres = fn(tctx)
        attempted += tres["attempted"]
        failed += tres["failed"]
        _fold_eventlog(tres, tctx.tracer)
        layers = dict(tres["layers"])
        traced = {**tres["e2e"], "setup_s": harness.median(tctx.setup_s)}
        for name, *_ in UNGATED:
            layers[name] = e2e[name]
        layers["samples"] = res["samples"]
        for name, *_ in E2E + UNGATED:
            layers[f"traced.{name}"] = traced[name]
        for name in ("latency_p50_ms", "cpu_ms_per_op"):
            layers[f"trace.overhead_pct.{name}"] = (traced[name] / e2e[name] - 1) * 100
    else:
        layers = {}
    steal1 = harness.cpu_jiffies()
    host = {"host.calib_ms_start": calib0, "host.calib_ms_end": harness.calibrate_ms(),
            "host.load1_start": load0, "host.load1_end": os.getloadavg()[0],
            "host.steal_pct": 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])}
    detail["host"] = host
    if args.trace:
        # a layer the workload does not pass through did no work in it
        metrics = {name: float({**layers, **host}.get(name, 0.0)) for name, *_ in PER_LAYER}
        detail["traced_samples"] = tres["samples"]
        detail["traced_notes"] = tctx.notes
        tctx.tracer.dump(os.path.join(harness.OUT, f"spans-{args.workload}-{args.seed}.json"))
    units = {name: unit for name, unit, *_ in E2E + PER_LAYER}
    print(json.dumps(detail, default=str))
    for name, value in metrics.items():
        print(f"{name:>44} {value:14.4f} {units[name]}")
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--plant", choices=("tally", "digest", "raise"))
    args = ap.parse_args(argv)
    try:
        result = run(args)
    except harness.ProgramMissing as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        return 2
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(harness.WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
