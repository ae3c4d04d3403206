"""SparkSession construction and per-session engine configuration.

The reference pins its Spark session at spark-streaming.py:14-29 (app name
``RealtimeVotingEngineering``, AQE disabled for the streaming job). Our
policy (SURVEY.md §4): AQE ON for batch, OFF for streaming queries (Spark
ignores/partially supports it there anyway), session timezone pinned to
UTC because event timestamps travel as UTC strings (voting.py:101).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "realtimevotingdataengineer-spark"

#: Session defaults for the product, bench.py, the tools and pytest
#: (callers override single entries through ``extra_conf``). At 100 TB
#: these are cluster-level knobs; the values here are sized for one
#: host, but the *shape* of the config (AQE + skew join handling + sane
#: shuffle parallelism, cheap streaming checkpoints) is what carries to
#: a 1000-executor deployment.
BATCH_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Smallest partition AQE coalesces to (default 1MB): a ~1.5MB final
    # aggregate keeps a task per core; tiny tallies still merge into one.
    # 256KB, not 64KB: a 148KB shuffle also stays one task (PERF.md,
    # "256KB coalescing floor": stage-task counts and a same-JVM A/B).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256KB",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Arrow for any pandas_udf / mapInPandas path (the only sanctioned
    # Python-side execution route — never row-at-a-time UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Streaming checkpoints. Without Hadoop's native library (the pip
    # wheel ships none), its local file system forks a shell (readlink,
    # chmod, rm) for link resolution, permissions and recursive deletes.
    # A JFR recording of jdk.ProcessStart on the live tally counted ~230
    # forks per micro-batch with Spark's defaults and ~43 with the two
    # settings below (PERF.md, "Streaming checkpoints without shell
    # forks"; pinned by tests/test_streaming.py).
    # Changelog checkpointing (next) is a RocksDB setting and does
    # nothing without this provider.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # A RocksDB commit writes one changelog file per store instead of
    # uploading SST files plus a zip and deleting its local checkpoint;
    # snapshots move to the maintenance thread.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # Offset/commit log and state files are renamed into place with
    # FileSystem.rename (File.renameTo on file:) instead of FileContext,
    # whose rename resolves both sides with a readlink fork. Neither is
    # more atomic on file: (FileContext also checks, then renames), and
    # HDFS's two-argument rename fails if the destination exists.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    # Local files through the raw file system. Hadoop's default for
    # file: is a checksummed wrapper of it that writes a hidden .crc
    # side-file next to every file it creates, and every create forks a
    # chmod. On the live tally that doubles the checkpoint files per
    # micro-batch: a JFR count read 38 chmod forks per vote file with
    # the default and 19 with the raw one (PERF.md, "One micro-batch
    # per vote file"). Nothing here reads those side-files. Spark's own
    # checkpoint checksums (<file>.crc, spark.sql.streaming.checkpoint.
    # fileChecksum.enabled) stay on: they verify every state and offset
    # file on read, at 8 of those 19 chmod forks per vote file.
    "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
}


def get_spark(master: str | None = None, extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession with batch defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(APP_NAME).master(master or f"local[{cpus}]")
    for k, v in {**BATCH_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_for_queries(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-owned session.

    The verify driver owns its own SparkSession; timestamp semantics must
    still be UTC (events carry UTC instants) and AQE should be on for
    batch plans. Only runtime-mutable confs are touched.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # static conf on some builds; harmless
    return spark
