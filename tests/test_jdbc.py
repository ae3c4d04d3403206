"""JDBC adapter tests against Spark's bundled embedded Derby.

Covers the reference's Postgres path (SURVEY.md §2.1 scan_table_full /
sink_insert_row and the intended streaming→DB leg) without a server:
embedded Derby lives in the same JVM as local-mode executors.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from realtimevotingdataengineer_spark.sources import jdbc
from realtimevotingdataengineer_spark.sources.tables import Tables


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    return Tables(spark, sf_dir)


def test_jdbc_round_trip(spark, t, tmp_path_factory):
    """write_jdbc then read_jdbc reproduces the exact relation."""
    url = jdbc.derby_url(str(tmp_path_factory.mktemp("derby") / "db"))
    src = t.nation
    jdbc.write_jdbc(src, url, "nation", mode="overwrite")
    back = jdbc.read_jdbc(spark, url, "nation")
    assert back.count() == src.count()
    assert {c.lower() for c in back.columns} == set(src.columns)
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_jdbc_partitioned_scan(spark, t, tmp_path_factory):
    """Range-partitioned JDBC read returns the same rows as serial."""
    url = jdbc.derby_url(str(tmp_path_factory.mktemp("derby") / "db"))
    jdbc.write_jdbc(t.supplier, url, "supplier", mode="overwrite")
    lo, hi = t.supplier.agg(F.min("s_suppkey"), F.max("s_suppkey")).first()
    par = jdbc.read_jdbc(
        spark,
        url,
        "supplier",
        partition_column="s_suppkey",
        num_partitions=4,
        lower_bound=lo,
        upper_bound=hi + 1,
    )
    assert par.rdd.getNumPartitions() == 4
    assert par.count() == t.supplier.count()


def test_streaming_jdbc_sink(spark, tmp_path_factory):
    """foreachBatch JDBC append lands every streamed row in the table."""
    base = tmp_path_factory.mktemp("jdbc_stream")
    url = jdbc.derby_url(str(base / "db"))
    src_dir = base / "in"
    src_dir.mkdir()
    spark.range(100).select(
        F.col("id").cast("string").alias("value")
    ).coalesce(1).write.mode("overwrite").text(str(src_dir))

    raw = (
        spark.readStream.format("text")
        .schema("value string")
        .load(str(src_dir))
        .select(F.col("value").cast("bigint").alias("id"))
    )
    q = jdbc.write_jdbc_batches(raw, url, "ids", checkpoint=str(base / "ckpt"))
    deadline = time.time() + 60
    while time.time() < deadline:
        q.processAllAvailable()
        try:
            n = jdbc.read_jdbc(spark, url, "ids").count()
            if n >= 100:
                break
        except Exception:
            pass
        time.sleep(0.5)
    q.stop()
    back = jdbc.read_jdbc(spark, url, "ids")
    assert back.count() == 100
    assert back.agg(F.sum("id")).first()[0] == sum(range(100))


def test_jdbc_explicit_driver_and_bounds_guard(spark, t, tmp_path_factory):
    """Passing the public embedded-Derby driver class explicitly works,
    and partition_column without bounds raises instead of shipping the
    string 'None' to the JVM."""
    url = jdbc.derby_url(str(tmp_path_factory.mktemp("derby") / "db"))
    jdbc.write_jdbc(t.region, url, "region", mode="overwrite", driver=jdbc.DERBY_DRIVER)
    back = jdbc.read_jdbc(spark, url, "region", driver=jdbc.DERBY_DRIVER)
    assert back.count() == t.region.count()
    with pytest.raises(ValueError, match="lower_bound"):
        jdbc.read_jdbc(spark, url, "region", partition_column="r_regionkey")


def test_reference_architecture_end_to_end(spark, tmp_path_factory):
    """The reference's INTENDED architecture in one pipe: vote events
    (Kafka-shaped text source) → from_json parse → one-vote dedup →
    stateful tally → live tally table in a relational store
    (embedded Derby standing in for Postgres). The DB ends up holding
    exactly the batch-computed truth."""
    from realtimevotingdataengineer_spark.sources import generator
    from realtimevotingdataengineer_spark.streaming import pipeline

    base = tmp_path_factory.mktemp("ref_arch")
    src = base / "events"
    src.mkdir()
    rows = generator.vote_events_raw(spark, 200).collect()
    (src / "part-0.jsonl").write_text("\n".join(r.value for r in rows))
    url = jdbc.derby_url(str(base / "db"))

    raw = pipeline.read_text_stream(spark, str(src))
    tally = pipeline.tally_per_candidate(
        pipeline.dedup_one_vote(pipeline.parse_vote_events(raw))
    )

    def to_db(batch, batch_id):
        # live-table semantics: each micro-batch's updated rows replace
        # the stored tallies for those candidates (Postgres would be an
        # INSERT ... ON CONFLICT UPDATE; Derby test double: delete+append
        # via full overwrite of the small tally table)
        jdbc.write_jdbc(batch, url, f"tally_{batch_id}", mode="overwrite")

    q = (
        tally.writeStream.foreachBatch(to_db)
        .option("checkpointLocation", str(base / "ckpt"))
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # the single input file arrives as batch 0; complete mode makes that
    # table the full tally
    stored = jdbc.read_jdbc(spark, url, "tally_0")
    got = {
        r["candidate_id"]: r["total_votes"]
        for r in stored.groupBy("candidate_id")
        .agg(F.sum("total_votes").alias("total_votes"))
        .collect()
    }
    assert sum(got.values()) == 200  # one vote per distinct voter
    assert len(got) == 3  # the reference's 3 candidates (main.py:181)
