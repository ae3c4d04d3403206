"""Custom stateful streaming operator: per-voter attempt tracking.

The reference's duplicate-vote handling is a DB UNIQUE violation caught
per record (voting.py:120-126,137-138). Where built-in dropDuplicates
only *suppresses* duplicates, an election audit wants to *observe* them:
per voter, how many attempts, when, and whether this batch contained a
repeat. That is genuinely custom state — expressed with
``applyInPandasWithState`` (Arrow-batched per-group kernels over a
GroupState), Spark's sanctioned route for operators the built-in
stateful set can't express (BASELINE.json north-star calls this out).

Scale: state is keyed by voter_id (uniform), one small tuple per voter,
GC'd via processing-time timeout; the kernel sees whole groups as pandas
batches — no per-row Python dispatch.
"""

from __future__ import annotations

from collections.abc import Iterable
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

ATTEMPT_SCHEMA = StructType(
    [
        StructField("voter_id", StringType()),
        StructField("attempts", LongType()),
        StructField("new_attempts", IntegerType()),
        StructField("first_time", TimestampType()),
        StructField("last_time", TimestampType()),
        StructField("is_duplicate", StringType()),  # 'yes'/'no' (audit-log friendly)
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("attempts", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)


def _make_track(gc_ms: int):
    """Kernel factory: the GC horizon is captured in the closure so it
    ships to Python workers with the pickled function (a module global
    would stay at its import-time default on the worker side)."""

    def _track(
        key: tuple[str],
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            # idle-voter eviction: drop the state and emit nothing — a
            # timeout wake-up carries no new attempts, and re-writing the
            # state here would defeat the GC this timeout exists for
            state.remove()
            return
        prev_attempts, first_us, last_us = state.get if state.exists else (0, None, None)
        new = 0
        for pdf in batches:
            for ts in pdf["voting_time"]:
                us = int(pd.Timestamp(ts).value // 1000)
                first_us = us if first_us is None else min(first_us, us)
                last_us = us if last_us is None else max(last_us, us)
                new += 1
        total = prev_attempts + new
        state.update((total, first_us, last_us))
        if gc_ms > 0:
            state.setTimeoutDuration(gc_ms)
        yield pd.DataFrame(
            {
                "voter_id": [key[0]],
                "attempts": [total],
                "new_attempts": [new],
                "first_time": [pd.Timestamp(first_us * 1000)],
                "last_time": [pd.Timestamp(last_us * 1000)],
                "is_duplicate": ["yes" if total > 1 else "no"],
            }
        )

    return _track


def track_vote_attempts(events: DataFrame, state_ttl_ms: int = 0) -> DataFrame:
    """Per-voter attempt audit over the (streaming) vote events.
    Emits one row per voter per batch with cumulative attempt state.

    ``state_ttl_ms > 0`` enables processing-time state eviction — use it
    in long-running deployments so idle voters are evicted. Leave 0 for
    bounded/backfill runs: a ProcessingTimeTimeout re-arms a wake-up on
    every batch, so AvailableNow / processAllAvailable never observe a
    quiescent query and block forever."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.select("voter_id", "voting_time")
        .groupBy("voter_id")
        .applyInPandasWithState(
            _make_track(state_ttl_ms),
            outputStructType=ATTEMPT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )
