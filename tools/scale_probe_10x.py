"""10× depth probe (round-10 verdict ask #8): run the two operators a
100 TB deployment stresses hardest — `dedup_minhash_lsh` end-to-end and
`corpus_pack_sequences_sharded` — on a synthetic corpus 10× sf0.1
(~50k docs → ~500k docs), recording wall time, shuffle volume, spill,
and peak execution memory from the local Spark REST API. The first
evidence beyond plan shape that the 100× story holds: flat-ish
per-row cost and zero (or bounded) spill at 10× the bench corpus.

The corpus is derived, not oracle data: 10 copies of sf0.1 documents,
copy 0 verbatim (so every sf0.1 duplicate structure survives), copies
1–9 with a per-copy suffix token — near-dup-but-not-exact replicas that
stress the banded join the way a recrawled corpus does. doc_ids are
offset per copy; results are NOT oracle-checked (the sweep does that at
the oracle SFs) — this tool measures execution behavior only.

Usage: python tools/scale_probe_10x.py [copies] [key ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtimevotingdataengineer_spark.session import get_spark  # noqa: E402

COPIES = int(sys.argv[1]) if len(sys.argv) > 1 else 10
KEYS = sys.argv[2:] or ["dedup_minhash_lsh", "corpus_pack_sequences_sharded"]
SRC = "/root/testdata/sf0.1"
WORK = f"/tmp/scale_probe_{COPIES}x"


def build_corpus(spark) -> None:
    marker = f"{WORK}/documents.parquet/_SUCCESS"
    if os.path.exists(marker):
        return
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    mx = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = []
    for c in range(COPIES):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(c * mx))
        if c > 0:
            d = d.withColumn(
                "text", F.concat("text", F.lit(f" replicant{c}"))
            )
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(
        f"{WORK}/documents.parquet"
    )


def rest(spark, path: str, attempts: int = 6):
    """REST read with retries: the UI's Jetty thread starves under
    heavy GC at probe sizings (round 14: a 10s one-shot timeout killed
    a 40-minute run before its key even started), so metric reads back
    off and retry instead of taking the whole probe down."""
    import time as _time

    app_id = spark.sparkContext.applicationId
    url = f"http://localhost:4040/api/v1/applications/{app_id}{path}"
    for i in range(attempts):
        try:
            with urllib.request.urlopen(url, timeout=30) as r:
                return json.loads(r.read())
        except Exception:
            if i == attempts - 1:
                raise
            _time.sleep(10 * (i + 1))


def stage_metrics(spark, after_stage: int) -> dict:
    tot = {
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_memory_mb": 0.0,
        "spill_disk_mb": 0.0,
        "peak_execution_memory_mb": 0.0,
        "input_mb": 0.0,
        "stages": 0,
    }
    for st in rest(spark, "/stages?status=complete"):
        if st["stageId"] < after_stage:
            continue
        tot["stages"] += 1
        tot["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 2**20
        tot["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
        tot["spill_memory_mb"] += st.get("memoryBytesSpilled", 0) / 2**20
        tot["spill_disk_mb"] += st.get("diskBytesSpilled", 0) / 2**20
        tot["peak_execution_memory_mb"] = max(
            tot["peak_execution_memory_mb"],
            st.get("peakExecutionMemory", 0) / 2**20,
        )
        tot["input_mb"] += st.get("inputBytes", 0) / 2**20
    return {k: round(v, 1) for k, v in tot.items()}


def main() -> None:
    spark = get_spark(
        "local[32]",
        {
            "spark.sql.shuffle.partitions": "32",
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true",  # REST metrics source
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    build_corpus(spark)
    # probe dir exposes the scaled documents next to the sf0.1 tables
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        dst = f"{WORK}/{t}.parquet"
        if not os.path.lexists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)

    import realtimevotingdataengineer_spark.operators  # noqa: F401
    from realtimevotingdataengineer_spark.registry import QUERIES
    from realtimevotingdataengineer_spark.sources.tables import Tables

    t = Tables(spark, WORK)
    n_docs = spark.read.parquet(f"{WORK}/documents.parquet").count()
    results = {}
    for key in KEYS:
        next_stage = max(
            (s["stageId"] for s in rest(spark, "/stages")), default=-1
        ) + 1
        t0 = time.perf_counter()
        df = QUERIES[key](t)
        t1 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        m = stage_metrics(spark, next_stage)
        m.update(
            construct_s=round(t1 - t0, 1),
            execute_s=round(t2 - t1, 1),
            out_rows=df.count(),
        )
        results[key] = m
        print(json.dumps({key: m}), flush=True)
    print(
        json.dumps(
            {
                "metric": "scale_probe",
                "copies": COPIES,
                "docs": n_docs,
                "load_avg": list(os.getloadavg()),
                "results": results,
            }
        )
    )


if __name__ == "__main__":
    main()
