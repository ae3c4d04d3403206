"""Sustained streaming NEAR-DUP gate throughput: rate source →
synthetic document text (~20% re-crawled content) → the online
MinHash-LSH gate of streaming/corpus.py (foreachBatch vs a persisted
signature index) → parquet survivors.

The near-dup complement to tools/stream_corpus_throughput.py (exact
content dedup): measures docs/s through the FULL gate — Arrow
shingle/signature kernel, band probe against the growing index,
exact-Jaccard verify, greedy admit, survivor+signature append. Reports
volume-weighted steady-state docs/s plus the index growth (bands rows ==
4 × admitted survivors).

Usage: python tools/stream_minhash_throughput.py [docs_per_sec] [seconds]

The session is the bench's (``bench.bench_session``) with 8 shuffle
partitions: cores and driver heap from ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import time  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from bench import bench_session  # noqa: E402
from realtimevotingdataengineer_spark.streaming import corpus  # noqa: E402

RATE = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000
SECONDS = int(sys.argv[2]) if len(sys.argv) > 2 else 45

#: Distinct synthetic documents; value % DOC_SPACE re-crawls the same
#: content (Jaccard 1.0 ≥ θ), so ~RATE·t/DOC_SPACE duplicate fraction
#: once warm — the gate's index probe and verify do real work.
DOC_SPACE = 50_000
#: Tokens per synthetic doc — 32 words ⇒ 30 trigram shingles/doc, the
#: kernel's md5 work is genuine.
DOC_TOKENS = 32


def main() -> None:
    spark = bench_session(
        "stream_minhash_throughput",
        {
            "spark.sql.shuffle.partitions": "8",
            # stop() interrupts the in-flight foreachBatch; Spark's
            # isInterruptionException then regexes the multi-KB py4j
            # exception string and java.util.regex recurses per char —
            # the default 1m thread stack dies with StackOverflowError.
            "spark.driver.extraJavaOptions": "-Xss64m",
        },
    )
    work = tempfile.mkdtemp(prefix="mh_gate_")
    idx, surv, ckpt = f"{work}/idx", f"{work}/surv", f"{work}/ckpt"
    corpus.build_minhash_index(
        spark.createDataFrame([], "doc_id bigint, text string"), idx
    )
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(RATE))
        .option("numPartitions", "8")
        .load()
    )
    # One transform() lambda, not DOC_TOKENS inlined md5 expressions: the
    # inlined form's multi-KB plan string blows the JVM stack inside the
    # stream thread's regex-based plan redaction (java.util.regex recurses
    # per char) — the lambda keeps the plan text O(1) in DOC_TOKENS.
    words = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(DOC_TOKENS - 1)),
            lambda i: F.md5(
                F.concat_ws(":", i, (F.col("value") % DOC_SPACE))
            ),
        ),
        " ",
    )
    docs = rate.select(F.col("value").alias("doc_id"), words.alias("text"))
    q = corpus.stream_dedup_minhash(
        docs, idx, surv, ckpt, processing_time="5 seconds"
    )
    deadline = time.time() + SECONDS
    while time.time() < deadline:
        time.sleep(1)
    progress = [json.loads(p.json) for p in q.recentProgress]
    # NO processAllAvailable() here: it can never drain a continuous
    # rate source that outpaces the gate — stop() directly (the -Xss
    # bump above keeps Spark's stop-interrupt classifier alive).
    q.stop()
    steady = [
        p for p in progress if p.get("numInputRows", 0) > 0 and p.get("batchId", 0) > 0
    ]
    rows = sum(p["numInputRows"] for p in steady)
    secs = sum(p["durationMs"]["triggerExecution"] for p in steady) / 1000.0
    n_surv = spark.read.parquet(surv).count()
    n_bands = spark.read.parquet(f"{idx}/bands").count()
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "stream_minhash_docs_per_sec",
                "value": round(rows / secs, 1) if secs > 0 else 0.0,
                "unit": "docs/sec",
                "target_rate": RATE,
                "batches": len(steady),
                "seconds": SECONDS,
                "docs_processed": rows,
                "survivors": n_surv,
                "index_band_rows": n_bands,
            }
        )
    )


if __name__ == "__main__":
    main()
