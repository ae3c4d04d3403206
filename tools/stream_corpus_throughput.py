"""Sustained streaming CORPUS-ingest throughput: rate source → synthetic
document text → content signature → exact dedup → memory.

The LLM-pipeline complement to tools/stream_throughput.py (which drives
the vote pipeline): measures docs/s through the online content-dedup
filter of streaming/corpus.py at a target ingest rate, with ~20% of the
stream being duplicate content (re-crawls) so the dedup state is
genuinely exercised. Reports the volume-weighted steady-state
processedRowsPerSecond and the signature-store size.

Usage: python tools/stream_corpus_throughput.py [docs_per_sec] [seconds]

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
from realtimevotingdataengineer_spark.streaming import corpus, sinks  # noqa: E402

RATE = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
SECONDS = int(sys.argv[2]) if len(sys.argv) > 2 else 30

#: Distinct synthetic documents; value % DOC_SPACE re-crawls the same
#: content, so ~ RATE/DOC_SPACE duplicate fraction once warm.
DOC_SPACE = 200_000
#: Tokens per synthetic doc (concatenated hash words — enough text that
#: normalize+md5 does real per-doc work).
DOC_TOKENS = 32


def main() -> None:
    spark = bench_session("stream_corpus_throughput", {"spark.sql.shuffle.partitions": "8"})

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(RATE))
        .option("numPartitions", "8")
        .load()
    )
    # deterministic synthetic text keyed by content id: DOC_TOKENS hash
    # words — same content id ⇒ byte-identical text ⇒ a true re-crawl.
    cid = (F.col("value") % DOC_SPACE).alias("content_id")
    words = F.concat_ws(
        " ",
        *[
            F.md5(F.concat_ws(":", F.lit(i), (F.col("value") % DOC_SPACE)))
            for i in range(DOC_TOKENS)
        ],
    )
    docs = rate.select(
        F.col("value").alias("doc_id"), cid, words.alias("text")
    )
    surv = corpus.stream_dedup_exact(docs)
    q = sinks.write_memory(surv.select("doc_id", "sig"), "corpus_ingest", "append")
    deadline = time.time() + SECONDS
    while time.time() < deadline:
        time.sleep(1)
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    steady = [
        p for p in progress if p.get("numInputRows", 0) > 0 and p.get("batchId", 0) > 0
    ]
    rows = sum(p["numInputRows"] for p in steady)
    secs = sum(p["durationMs"]["triggerExecution"] for p in steady) / 1000.0
    state_rows = state_mem = 0
    if steady:
        for op in steady[-1].get("stateOperators", []):
            state_rows += op.get("numRowsTotal", 0)
            state_mem += op.get("memoryUsedBytes", 0)
    print(
        json.dumps(
            {
                "metric": "stream_corpus_docs_per_sec",
                "value": round(rows / secs, 1) if secs > 0 else 0.0,
                "unit": "docs/sec",
                "target_rate": RATE,
                "batches": len(steady),
                "seconds": SECONDS,
                "state_rows": state_rows,
                "state_mem_mb": round(state_mem / 1e6, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
