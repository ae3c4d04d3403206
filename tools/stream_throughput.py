"""Sustained streaming throughput: rate source → vote pipeline → memory.

Unlike bench.py's backlog-drain measurement (fixed corpus, AvailableNow),
this drives the full parse→dedup→tally pipeline from Spark's `rate`
source at a target rows/s for a fixed wall-clock window and reports the
achieved steady-state events/s (processedRowsPerSecond from the query's
own progress metrics, excluding the first warm-up batch).

Usage: python tools/stream_throughput.py [rows_per_sec] [seconds]

The session is the bench's (``bench.bench_session``) with 8 shuffle
partitions: cores and driver heap from ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import time  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from bench import bench_session  # noqa: E402
from realtimevotingdataengineer_spark.streaming import pipeline, sinks  # noqa: E402

RATE = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
SECONDS = int(sys.argv[2]) if len(sys.argv) > 2 else 20


def main() -> None:
    # 8 shuffle partitions: stateful parallelism sized to state volume
    spark = bench_session("stream_throughput", {"spark.sql.shuffle.partitions": "8"})

    # rate rows → the wire shape (key, value JSON) → the real parse chain.
    # voter cardinality 100k keeps the dedup state store genuinely busy.
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(RATE))
        .option("numPartitions", "8")
        .load()
    )
    raw = rate.select(
        F.to_json(
            F.struct(
                F.concat(F.lit("voter-"), (F.col("value") % 100_000).cast("string")).alias(
                    "voter_id"
                ),
                F.concat(F.lit("cand-"), (F.col("value") % 5).cast("string")).alias(
                    "candidate_id"
                ),
                F.concat(F.lit("Candidate "), (F.col("value") % 5).cast("string")).alias(
                    "candidate_name"
                ),
                F.concat(F.lit("Party_"), (F.col("value") % 3).cast("string")).alias(
                    "party_affiliation"
                ),
                F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("voting_time"),
                F.lit(1).alias("vote"),
            )
        ).alias("value")
    )
    tally = pipeline.tally_per_candidate(
        pipeline.dedup_one_vote(pipeline.parse_vote_events(raw))
    )
    q = sinks.write_memory(tally, "rate_tally", "update")
    deadline = time.time() + SECONDS
    while time.time() < deadline:
        time.sleep(1)
    # recentProgress yields StreamingQueryProgress objects (PySpark 4.x)
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    # volume-weighted estimator: total rows / total processing time.
    # A per-batch mean of processedRowsPerSecond would weight a tiny
    # trailing batch equally with a huge catch-up batch. Warm-up is
    # excluded by batchId (recentProgress is a rolling buffer, so
    # position 0 is not necessarily the first batch).
    steady = [
        p
        for p in progress
        if p.get("numInputRows", 0) > 0 and p.get("batchId", 0) > 0
    ]
    n_batches = len(steady)
    rows = sum(p["numInputRows"] for p in steady)
    secs = sum(p["durationMs"]["triggerExecution"] for p in steady) / 1000.0
    sustained = rows / secs if secs > 0 else 0.0
    # state-store footprint from the last steady batch: the dedup store
    # (voter keys) + the update-mode tally store, RocksDB-backed.
    state_rows = state_mem = 0
    if steady:
        for op in steady[-1].get("stateOperators", []):
            state_rows += op.get("numRowsTotal", 0)
            state_mem += op.get("memoryUsedBytes", 0)
    print(
        json.dumps(
            {
                "metric": "stream_sustained_events_per_sec",
                "value": round(sustained, 1),
                "unit": "events/sec",
                "target_rate": RATE,
                "batches": n_batches,
                "seconds": SECONDS,
                "state_rows": state_rows,
                "state_mem_mb": round(state_mem / 1e6, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
