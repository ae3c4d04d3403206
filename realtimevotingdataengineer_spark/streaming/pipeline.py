"""Structured Streaming pipeline — the reference's intended dataflow,
completed (the tutorial truncates at spark-streaming.py:77).

Reference chain (spark-streaming.py:66-74):
    readStream(kafka votes_topic, earliest)
      → CAST(value AS STRING) → from_json(vote_schema) → select("data.*")
then (intended, Note...txt:34-37 + the truncated section):
      → to_timestamp(voting_time)                      [expr_ts_convert]
      → dropDuplicates(voter_id)                       [one vote/voter]
      → stateful tallies, outputMode("update")         [« les agrégera »]
      → kafka sink for the live dashboard              [sink_kafka_agg]

Every transformation here is source-agnostic: the same functions accept
a Kafka stream, a file-backed text stream (tests — no broker in CI), or
a bounded batch DataFrame (the oracle twins in operators/relational.py).

Scale posture: the stateful ops (dropDuplicates, groupBy tallies) key
their state by voter_id / candidate — uniform keys, with no event-time
column, so no watermark could evict a row and the live tally sets none.
Dedup state grows by one row per distinct voter (the reference's
Postgres UNIQUE also held forever) and the tally holds one row per
candidate; with no watermark, no state clean-up (no-data) micro-batch
follows a data batch. Only dedup_one_vote_within and the windowed,
session and stream-stream join operators below set the watermark,
because they evict state past it. State lives in the RocksDB store
that session.BATCH_CONF selects for every session. AQE stays OFF for
streaming plans (reference pins this too, spark-streaming.py:27).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import TIME_FMT
from ..schemas import VOTE_EVENT_SCHEMA

#: Event-time lateness bound of the operators whose state it evicts:
#: dedup_one_vote_within and those keyed on event time (windows, sessions,
#: the stream-stream join). A row whose voting_time is further than this
#: behind the latest seen reaches such an operator after the watermark and
#: is dropped there. dedup_one_vote and the tallies do not set it: their
#: keys hold no event time, so it would evict nothing, and each watermark
#: advance would cost a state clean-up (no-data) micro-batch.
WATERMARK = "10 minutes"


def read_kafka_votes(
    spark: SparkSession,
    servers: str = "localhost:9092",
    topic: str = "votes_topic",
) -> DataFrame:
    """Kafka source, earliest offsets (spark-streaming.py:66-71;
    consumer config voting.py:15-22 — with its 'boostrap.servers' and
    'earLiest' typos corrected, bug 3 in SURVEY.md)."""
    try:
        return (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", servers)
            .option("subscribe", topic)
            .option("startingOffsets", "earliest")
            .load()
        )
    except Exception as ex:  # connector JAR absent → actionable guidance
        msg = str(ex)
        if "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find data source" in msg:
            raise RuntimeError(
                "Kafka connector not on the classpath. Launch with --packages "
                "org.apache.spark:spark-sql-kafka-0-10_<scala-suffix>:<spark-version> "
                "(the Scala suffix must match the Spark build: 2.12 for Spark 3.x "
                "pip wheels, 2.13 for Spark 4.x; the reference pins the same "
                "package at spark-streaming.py:17). For broker-less runs use "
                "read_text_stream(), which feeds the identical parse chain."
            ) from ex
        raise


def read_text_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Broker-less stand-in for the Kafka topic: a directory of text
    files, one JSON event per line, presented with the same `value`
    column contract as the Kafka source.

    ``max_files_per_trigger`` is the file-source admission-control knob
    (Kafka's is ``maxOffsetsPerTrigger``): it caps per-micro-batch input
    so a backlog drains in bounded batches instead of one giant catch-up
    batch — the backpressure mechanism of `stream_backpressure_flush`
    (micro-batch admission control, not the reference's producer-side
    flush). Honored by AvailableNow/processAllAvailable replay too."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)  # text source emits `value`


def parse_vote_events(raw: DataFrame) -> DataFrame:
    """CAST(value AS STRING) → from_json(vote_schema) → select("data.*")
    — exactly spark-streaming.py:72-74. Malformed JSON yields a null
    struct which is dropped (the reference's per-record except/continue,
    voting.py:137-138)."""
    return (
        raw.selectExpr("CAST(value AS STRING) AS value")
        .select(F.from_json(F.col("value"), VOTE_EVENT_SCHEMA).alias("data"))
        .filter(F.col("data").isNotNull() & F.col("data.voter_id").isNotNull())
        .select("data.*")
    )


def with_event_time(events: DataFrame) -> DataFrame:
    """« convertir l'horodatage du vote » — the truncated tutorial step
    (spark-streaming.py:77): ensure voting_time is a proper event-time
    timestamp (from_json already coerces the wire string; this guards
    the string-typed path when events arrive pre-flattened)."""
    col = events.schema["voting_time"].dataType.typeName()
    if col == "timestamp":
        return events
    return events.withColumn("voting_time", F.to_timestamp("voting_time", TIME_FMT))


def dedup_one_vote(events: DataFrame) -> DataFrame:
    """One vote per voter, ever, late or not (UNIQUE(voter_id)
    main.py:55; insert-then-produce ordering voting.py:112-126) as
    streaming dedup on voter_id.

    First arrival wins: of a voter's votes, the one that reaches the
    stream first is kept, whatever its voting_time, as the reference's
    UNIQUE keeps the first insert. A re-vote that arrives later with an
    earlier voting_time is dropped (pinned by
    test_live_tally_first_arrival_wins). Within one micro-batch "first"
    is the order the dedup reads its input: source order for one file
    or one Kafka partition, unspecified across files of one batch.

    No watermark: the state keeps one row per distinct voter for the
    life of the query, a re-vote any time later is suppressed, and a
    voter's first vote counts however late it arrives, as the
    reference's UNIQUE did. A watermark would evict nothing from this
    state (the key holds no event time) and would only add a state
    clean-up micro-batch after every batch that advanced it.
    ``dedup_one_vote_within`` is the variant whose state the watermark
    bounds."""
    return with_event_time(events).dropDuplicates(["voter_id"])


def dedup_one_vote_within(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """`dropDuplicatesWithinWatermark` variant of the one-vote rule:
    deduplicates events whose event times fall within the watermark
    delay of each other, without requiring the event-time column in the
    key — the right tool when duplicates are *retries* (same vote,
    slightly different timestamps), which is exactly the reference's
    Kafka at-least-once producer behavior (main.py:227)."""
    return (
        with_event_time(events)
        .withWatermark("voting_time", watermark)
        .dropDuplicatesWithinWatermark(["voter_id"])
    )


def tally_per_candidate(events: DataFrame) -> DataFrame:
    """THE core aggregation (Note...txt:17-19,34-35): running vote totals
    per candidate, for outputMode('update'). The event is pre-joined
    (voting.py:100-103) so no runtime join is needed — group directly."""
    return events.groupBy("candidate_id", "candidate_name", "party_affiliation").agg(
        F.sum("vote").alias("total_votes")
    )


def tally_per_party(events: DataFrame) -> DataFrame:
    """Per-party totals (3 parties, Note...txt:16-19)."""
    return events.groupBy("party_affiliation").agg(F.sum("vote").alias("total_votes"))


def windowed_tally(events: DataFrame, window: str = "1 minute") -> DataFrame:
    """« l'évolution des candidats au fur et à mesure des votes »
    (Note...txt:37): tumbling event-time windows per candidate, with the
    watermark bounding state."""
    ev = with_event_time(events).withWatermark("voting_time", WATERMARK)
    return ev.groupBy(
        F.window("voting_time", window).alias("win"), F.col("candidate_name")
    ).agg(F.sum("vote").alias("votes"))


def session_activity(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Per-voter session windows over the vote stream using Spark's
    NATIVE session_window (dynamic-gap merging state op) — sessions
    close after ``gap`` of inactivity; the watermark both bounds state
    and finalizes sessions. The batch twin (window_session) states the
    same sessionization as lag-flag + running sum, which a SQL oracle
    can express; this is the streaming-native form with mergeable
    state."""
    ev = with_event_time(events).withWatermark("voting_time", WATERMARK)
    return ev.groupBy(
        F.session_window("voting_time", gap).alias("session"),
        F.col("voter_id"),
    ).agg(F.count(F.lit(1)).alias("n_events"))


def turnout_by_state(events: DataFrame) -> DataFrame:
    """Turnout per address.state — the reason the schema denormalizes
    address (main.py:37-41). Streaming-safe: dedup first (one vote per
    voter, ever, late or not; no watermark), then count."""
    return dedup_one_vote(events).groupBy(F.col("address.state").alias("state")).agg(
        F.count(F.lit(1)).alias("turnout")
    )


def enrich_with_candidates(events: DataFrame, candidates: DataFrame) -> DataFrame:
    """Stream-static broadcast join: re-attach the (3-row) candidate
    dimension to the vote stream by candidate_id — the runtime form of
    join_votes_candidates (SURVEY §2.3) for events that arrive WITHOUT
    the denormalized candidate fields. Stream-static joins need no
    watermark (the static side is re-read per micro-batch, so dimension
    updates between batches are picked up); broadcasting keeps the
    stream side shuffle-free."""
    dim = F.broadcast(
        candidates.select(
            F.col("candidate_id").alias("cand_id"),
            "candidate_name",
            "party_affiliation",
        )
    )
    slim = events.drop("candidate_name", "party_affiliation")
    return slim.join(dim, slim["candidate_id"] == dim["cand_id"]).drop("cand_id")


def join_votes_with_registrations(
    votes: DataFrame, registrations: DataFrame, horizon: str = "30 minutes"
) -> DataFrame:
    """Stream-stream inner join: each vote matched to the same voter's
    registration event within the event-time horizon (vote must follow
    registration). Both sides carry watermarks so Spark can GC join
    state; the interval condition bounds how long a registration waits
    for its vote. This is the streaming form of join_votes_voters
    (SURVEY §2.3) when the voter dimension is itself a stream.

    registrations schema: (voter_id, registered_at timestamp, ...).
    """
    v = (
        with_event_time(votes)
        .withWatermark("voting_time", WATERMARK)
        .select("voter_id", "voting_time", "candidate_id", "vote")
    )
    r = registrations.withWatermark("registered_at", horizon).select(
        F.col("voter_id").alias("reg_voter_id"), "registered_at"
    )
    return v.join(
        r,
        (F.col("voter_id") == F.col("reg_voter_id"))
        & (F.col("voting_time") >= F.col("registered_at"))
        & (
            F.col("voting_time")
            <= F.col("registered_at") + F.expr(f"INTERVAL {horizon}")
        ),
        "inner",
    ).drop("reg_voter_id")


def leading_candidate_batch(tally: DataFrame) -> DataFrame:
    """« Le candidat qui obtient le plus de vote gagne » (Note...txt:19).
    Streaming sort is illegal in update mode — compute the winner per
    micro-batch via foreachBatch (sinks.write_parquet_batches) or in
    complete mode; this is the per-batch reduction (3 groups → trivial)."""
    return tally.orderBy(F.desc("total_votes"), F.asc("candidate_name")).limit(1)
