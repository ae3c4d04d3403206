"""Admit-path switch sweep (round-10 verdict ask #1): drive ONE
micro-batch of size N through the SRP gate's foreachBatch body
(_srp_gate_batch) for a ladder of Ns straddling ADMIT_DRIVER_MAX, with
the ADAPTIVE default (distributed_admit=None), recording per-size wall
time, the branch the switch chose, and driver RSS (/proc VmRSS) after
each batch — the evidence that (a) the switch actually flips at the
threshold and (b) the default path's driver memory stays FLAT through
batches ≥2× the threshold (the executor-side admit never collects ids
or pairs).

Batches are built executor-side (spark.range + a hash-derived 64-dim
vector; value % VEC_SPACE makes heavy identical-vector duplication, the
gate's documented worst case) so the driver never holds the batch
either way — the RSS difference isolates the admit path itself.

Usage:
    python tools/stream_srp_admit_sweep.py [sizes_csv] [threshold]
    # default: sizes 250k,500k,1M,2M,4M at the shipped threshold (2M)
    # quick local check: python tools/stream_srp_admit_sweep.py \
    #       50000,100000,200000 100000
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtimevotingdataengineer_spark.session import get_spark  # noqa: E402
from realtimevotingdataengineer_spark.streaming import corpus  # noqa: E402

SIZES = (
    [int(s) for s in sys.argv[1].split(",")]
    if len(sys.argv) > 1
    else [250_000, 500_000, 1_000_000, 2_000_000, 4_000_000]
)
THRESHOLD = int(sys.argv[2]) if len(sys.argv) > 2 else corpus.ADMIT_DRIVER_MAX
# local-mode note: the "driver" JVM is also every executor, so its heap
# must hold the batch's checkpointed blocks (~4 GB at 4M×64-dim) PLUS
# execution memory — size it like the executors it stands in for. The
# probe's RSS claim is about the PYTHON process (the admit collects),
# which /proc/self/status isolates from the JVM.
DRIVER_MEM = os.environ.get("SWEEP_DRIVER_MEM", "8g")
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
    spark = get_spark(
        "local[32]",
        {
            "spark.sql.shuffle.partitions": "32",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.driver.memory": DRIVER_MEM,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
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
    # spy the executor-side admit so the chosen branch is recorded, not
    # inferred
    taken: list = []
    real = corpus._greedy_admit_frames

    def spy(ids, flagged, pairs):
        taken.append(True)
        return real(ids, flagged, pairs)

    corpus._greedy_admit_frames = spy
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
        taken.clear()
        rss0 = vm_rss_mb()
        t0 = time.perf_counter()
        corpus._srp_gate_batch(batch, idx, surv)  # adaptive default
        dt = time.perf_counter() - t0
        rss1 = vm_rss_mb()
        n_surv = spark.read.parquet(surv).count()
        shutil.rmtree(work, ignore_errors=True)
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        results.append(
            {
                "batch": n,
                "branch": "distributed" if taken else "driver_walk",
                "expected_branch": "distributed" if n > THRESHOLD else "driver_walk",
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
