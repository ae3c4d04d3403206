"""applyInPandasWithState: custom per-voter attempt tracking, across
multiple micro-batches (state must persist between batches)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtimevotingdataengineer_spark.sources import generator
from realtimevotingdataengineer_spark.streaming import pipeline, sinks
from realtimevotingdataengineer_spark.streaming.stateful import track_vote_attempts


@pytest.fixture(scope="module")
def two_batch_dir(spark, tmp_path_factory):
    """Two files processed as two micro-batches (maxFilesPerTrigger=1):
    batch 1 = everyone's first vote; batch 2 = repeat votes from every
    5th voter."""
    path = tmp_path_factory.mktemp("attempts")
    base = generator.votes(spark, 50)
    first = base.select(
        F.col("voter_id").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in base.columns])).alias("value"),
    )
    (path / "batch1.jsonl").write_text("\n".join(r.value for r in first.collect()))
    repeats = base.filter(
        F.pmod(F.expr("CAST(substring(voter_id, 7) AS BIGINT)"), F.lit(5)) == 0
    )
    rep = repeats.select(F.to_json(F.struct(*[F.col(c) for c in repeats.columns])).alias("value"))
    (path / "batch2.jsonl").write_text("\n".join(r.value for r in rep.collect()))
    return str(path)


def test_attempts_accumulate_across_batches(spark, two_batch_dir):
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(two_batch_dir)
    )
    events = pipeline.parse_vote_events(raw)
    audited = track_vote_attempts(events)
    q = sinks.write_memory(audited, "attempts", "update", available_now=True)
    assert q.awaitTermination(300), "stateful query did not finish in time"
    out = spark.sql(
        "SELECT voter_id, max(attempts) AS attempts, max(is_duplicate) AS dup "
        "FROM attempts GROUP BY voter_id"
    ).collect()
    by_voter = {r.voter_id: (r.attempts, r.dup) for r in out}
    assert len(by_voter) == 50
    for voter_id, (attempts, dup) in by_voter.items():
        idx = int(voter_id.split("-")[1])
        if idx % 5 == 0:
            assert (attempts, dup) == (2, "yes"), voter_id
        else:
            assert (attempts, dup) == (1, "no"), voter_id
