"""Admit switch sweep (round-10 verdict ask #1): drive ONE micro-batch
of size N through the SRP gate's foreachBatch body (_srp_gate_batch)
for a ladder of Ns straddling ADMIT_DRIVER_MAX, recording per-size wall
time, the executor-side admit rounds the batch ran (read off the
admit's INFO log record), and driver RSS (/proc VmRSS) after each
batch — the evidence that (a) rounds run exactly when the batch
exceeds the threshold and (b) driver memory stays FLAT through batches
≥2× the threshold (the rounds never collect ids or pairs; the driver
walk only takes the undecided rest).

Batches are built executor-side (spark.range + a hash-derived 64-dim
vector; value % VEC_SPACE makes heavy identical-vector duplication, the
gate's documented worst case) so the driver never holds the batch
either way — the RSS difference isolates the admit path itself.

Usage:
    python tools/stream_srp_admit_sweep.py [sizes_csv] [threshold]
    # default: sizes 250k,500k,1M,2M,4M at the shipped threshold (2M)
    # quick local check: python tools/stream_srp_admit_sweep.py \
    #       50000,100000,200000 100000

The session is the bench's (``bench.bench_session``): cores and shuffle
width from ``SPARK_GRAFT_CPUS``, driver heap from
``SPARK_GRAFT_DRIVER_MEM``.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import bench_session  # noqa: E402
from realtimevotingdataengineer_spark.streaming import corpus  # noqa: E402

SIZES = (
    [int(s) for s in sys.argv[1].split(",")]
    if len(sys.argv) > 1
    else [250_000, 500_000, 1_000_000, 2_000_000, 4_000_000]
)
THRESHOLD = int(sys.argv[2]) if len(sys.argv) > 2 else corpus.ADMIT_DRIVER_MAX
VEC_SPACE = 20_000
EMB_DIM = 64


def vm_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS"):
                return int(line.split()[1]) / 1024.0
    return -1.0


def main() -> None:
    corpus.ADMIT_DRIVER_MAX = THRESHOLD
    # local mode: the driver JVM is also every executor, so its heap
    # (SPARK_GRAFT_DRIVER_MEM) must hold the batch's checkpointed blocks
    # (~4 GB at 4M×64-dim) plus execution memory. The probe's RSS claim
    # is about the PYTHON process (the admit collects), which
    # /proc/self/status isolates from the JVM.
    spark = bench_session("srp_admit_sweep")
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
        lambda i: (
            F.pmod(
                F.hash(F.concat_ws(":", i, (F.col("id") % VEC_SPACE))),
                F.lit(1000),
            ).cast("double")
            / 100.0
            - 5.0
        ),
    )
    # the admit logs its executor-side round count per batch; record it
    # rather than infer it from the batch size
    rounds: list = []

    class RoundsHandler(logging.Handler):
        def emit(self, record):
            if hasattr(record, "admit_rounds"):
                rounds.append(record.admit_rounds)

    log = logging.getLogger(corpus.__name__)
    log.setLevel(logging.INFO)
    log.addHandler(RoundsHandler())
    results = []
    for n in SIZES:
        work = tempfile.mkdtemp(prefix="srp_admit_sweep_")
        idx, surv = f"{work}/idx", f"{work}/surv"
        corpus.build_srp_stream_index(
            spark.createDataFrame([], "vec_id bigint, embedding array<double>"),
            idx,
        )
        batch = spark.range(n).select(
            F.col("id").alias("vec_id"), emb.alias("embedding")
        )
        rounds.clear()
        rss0 = vm_rss_mb()
        t0 = time.perf_counter()
        corpus._srp_gate_batch(batch, idx, surv)
        dt = time.perf_counter() - t0
        rss1 = vm_rss_mb()
        n_surv = spark.read.parquet(surv).count()
        shutil.rmtree(work, ignore_errors=True)
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        results.append(
            {
                "batch": n,
                "admit_rounds": sum(rounds),
                "expect_rounds": n > THRESHOLD,
                "secs": round(dt, 1),
                "survivors": n_surv,
                "driver_rss_mb_before": round(rss0, 1),
                "driver_rss_mb_after": round(rss1, 1),
            }
        )
        print(json.dumps(results[-1]), flush=True)
    print(
        json.dumps(
            {
                "metric": "srp_admit_switch_sweep",
                "threshold": THRESHOLD,
                "load_avg": list(os.getloadavg()),
                "results": results,
            }
        )
    )


if __name__ == "__main__":
    main()
