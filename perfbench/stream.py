"""The ``live_votes`` workload: vote files, one at a time, into the
reference's live tally, built only from the program's public functions:

    read_text_stream -> parse_vote_events -> dedup_one_vote
      -> tally_per_candidate -> write_memory (update mode)

with RocksDB state. A vote file is mapped to the micro-batch that read
it through the ``batchId`` of its entry in the file-source checkpoint
log and the source offsets in ``StreamingQuery.recentProgress``, and to
that batch's end through the same progress.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import Counter
from datetime import datetime

from . import harness
from .harness import median, p90
from .votegen import VoteFileWriter


def build_tally(spark, in_dir: str, tracer):
    from realtimevotingdataengineer_spark.streaming import pipeline

    with tracer.span("pipeline.read_text_stream"):
        raw = pipeline.read_text_stream(spark, in_dir)
    with tracer.span("pipeline.parse_vote_events"):
        events = pipeline.parse_vote_events(raw)
    with tracer.span("pipeline.dedup_one_vote"):
        deduped = pipeline.dedup_one_vote(events)
    with tracer.span("pipeline.tally_per_candidate"):
        return pipeline.tally_per_candidate(deduped)


def start_query(spark, tally, name: str, ckpt_base: str, tracer):
    """Start the memory sink; its checkpoint is ``ckpt_base/name``."""
    from realtimevotingdataengineer_spark.streaming import sinks

    spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt_base)
    with tracer.span("sinks.write_memory"):
        return sinks.write_memory(tally, name, "update")


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> batchId from the file-source log. The log compacts
    every 10 batches, and a compact file repeats every earlier entry, so
    entries are keyed by path rather than counted. The source numbers
    only the batches that brought it new files; ``query_batches`` maps
    these ids to the query's."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" version header
                entry = json.loads(line)
                name = os.path.basename(entry["path"])
                out[name] = min(entry["batchId"], out.get(name, entry["batchId"]))
    return out


def query_batches(progress: list[dict]) -> dict[int, int]:
    """File-source batchId -> id of the query batch that read it, from
    each batch's source offsets in its progress (PySpark gives them as
    text, ``"{'logOffset': 3}"``, or ``'None'`` before the first batch)."""

    def log_offset(o) -> int:
        m = re.search(r"logOffset\D*(\d+)", str(o))
        return int(m.group(1)) if m else -1

    out: dict[int, int] = {}
    for p in data_batches(progress):
        src = p["sources"][0]
        for n in range(log_offset(src["startOffset"]) + 1, log_offset(src["endOffset"]) + 1):
            out[n] = p["batchId"]
    return out


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_ends(progress: list[dict]) -> dict[int, float]:
    """batchId -> wall time (epoch s) at which the batch committed."""
    return {
        p["batchId"]: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
        for p in progress
    }


def read_tally(spark, name: str) -> dict[str, int]:
    """Latest running total per candidate (update mode appends one row per
    changed candidate per batch; totals only grow)."""
    rows = spark.sql(
        f"SELECT candidate_id, max(total_votes) AS v FROM {name} GROUP BY candidate_id"
    ).collect()
    return {r["candidate_id"]: int(r["v"]) for r in rows}


def data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p["numInputRows"] > 0]


#: The query's status message once it has nothing left to run (no new
#: file, no state clean-up batch pending).
IDLE = "Waiting for data to arrive"
#: Poll interval of the benchmark. Polls cost CPU of their own (a py4j call
#: each), which lands in ``cpu_ms_per_op``; batch ends come from progress, so
#: the interval does not enter latency.
POLL_S = 0.05


def wait_for(q, cond, timeout_s: float, what: str):
    """Poll ``cond()`` until it returns something truthy; raise if the
    query stops or ``timeout_s`` passes first."""
    deadline = time.perf_counter() + timeout_s
    while True:
        got = cond()
        if got:
            return got
        if q.exception() is not None or not q.isActive:
            raise RuntimeError(f"live query stopped: {q.exception()}")
        if time.perf_counter() > deadline:
            raise RuntimeError(f"live query made no progress in {timeout_s} s: {what}")
        time.sleep(POLL_S)


def data_batch_after(q, prev: int):
    """The first data batch after data batch ``prev``, once it has
    committed. (The progress an idle query reports every few seconds
    carries the id of the batch it has not run yet, so only data batches
    are compared.)"""
    last = q.lastProgress
    if last is None or last["batchId"] <= prev:
        return None
    if last["numInputRows"] > 0:
        return last
    return next((p for p in data_batches(q.recentProgress) if p["batchId"] > prev), None)


# ------------------------------------------------------------------ live_votes


def live_votes(ctx) -> dict:
    """One vote file at a time into the live tally: each file is due
    ``pause_s`` after the query has gone idle (its data batch and the
    state clean-up batch the advanced watermark triggers both done).
    Latency per file: from its due time to the end of the micro-batch
    whose tally includes it. Every set-up cycle runs its own query, with
    its own input directory, checkpoint and tally."""
    size = ctx.size
    state: dict = {}
    acc: dict = {"lat": [], "attempted": 0, "failed": 0, "late_ms": [], "backlog": 0, "gc_ms": 0.0, "cpu_s": 0.0,
                 "layers": {}}

    def probe() -> float:
        """Write the next file once the query is idle and wait for the
        data batch that reads it; returns its latency in seconds."""
        q, writer = state["q"], state["writer"]
        wait_for(q, lambda: q.status["message"] == IDLE, size["timeout_s"], "idle")
        due = time.time() + size["pause_s"]
        writer.write(due)
        prev = state["last_data_batch"]
        batch = wait_for(q, lambda: data_batch_after(q, prev), size["timeout_s"], "data batch")
        state["last_data_batch"] = batch["batchId"]
        return batch_ends([batch])[batch["batchId"]] - due

    def setup_cycle(cycle: int) -> None:
        spark = harness.start_session(ctx.trace)
        base = os.path.join(harness.WORK, f"live_{ctx.tag}{cycle}")
        writer = VoteFileWriter(f"{base}/in", f"{base}/staging", ctx.seed, size["votes_per_file"])
        tally = build_tally(spark, f"{base}/in", ctx.tracer)
        if ctx.plant == "raise":
            from pyspark.sql import functions as F

            tally = tally.where(F.raise_error(F.lit("planted failure")).isNull())
        name = f"live_tally_{ctx.tag}{cycle}"
        q = start_query(spark, tally, name, f"{base}/ckpt", ctx.tracer)
        state.update(spark=spark, writer=writer, q=q, name=name, ckpt=f"{base}/ckpt/{name}",
                     last_data_batch=-1)
        ctx.warm(probe, cycle, window=2)

    def measure(cycle: int, seconds: float) -> None:
        spark, writer, q = state["spark"], state["writer"], state["q"]
        gc0, cpu0 = harness.jvm_gc_ms(spark), harness.tree_cpu_s()
        first = writer.i
        errors = []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            try:
                probe()
            except Exception as ex:  # a dead or stalled query: stop, count what is missing
                errors.append(repr(ex)[:300])
                break
        else:  # let the last file's clean-up batch finish too
            try:
                wait_for(q, lambda: q.status["message"] == IDLE, size["timeout_s"], "idle")
            except Exception as ex:
                errors.append(repr(ex)[:300])
        acc["cpu_s"] += harness.tree_cpu_s() - cpu0
        acc["gc_ms"] += harness.jvm_gc_ms(spark) - gc0
        measured = [f"votes-{i:06d}.json" for i in range(first, writer.i)]
        due, written, expected = writer.due, writer.written, Counter(writer.tally)

        # failures: a measured file whose batch never committed, a wrong
        # tally, a query that died or stalled
        progress = q.recentProgress
        qb = query_batches(progress)
        fb = {f: qb[n] for f, n in file_batches(state["ckpt"]).items() if n in qb}
        acc["backlog"] += sum(1 for f in written if f not in fb)
        q.stop()
        ends = batch_ends(progress)
        lat = [(ends[fb[f]] - due[f]) * 1e3 for f in measured if f in fb]
        missing = len(measured) - len(lat)
        try:
            tally = read_tally(spark, state["name"])
        except Exception as ex:
            tally = {"error": repr(ex)[:300]}
        if ctx.plant == "tally":
            expected["cand-0"] += 1
        tally_ok = tally == dict(expected)
        ctx.note(**{f"cycle{cycle}": {
            "tally": tally, "expected_tally": dict(expected), "missing_files": missing,
            "files_measured": len(measured), "files_total": len(written), "errors": errors,
            "query_error": str(q.exception())[:300] if q.exception() else None,
            "latency_p50_ms": round(median(lat), 1) if lat else None,
        }})
        acc["lat"] += lat
        acc["attempted"] += len(measured) + 1 + len(errors)
        acc["failed"] += missing + (0 if tally_ok else 1) + len(errors)
        acc["late_ms"] += [(written[f] - due[f]) * 1e3 for f in measured]
        # the window's data batches and the clean-up batches that followed them
        ids = [fb[f] for f in measured if f in fb]
        window = [p for p in progress if ids and min(ids) <= p["batchId"] <= max(ids) + 1]
        acc["layers"] = stream_layers(window, data_batches(progress))
        harness.stop_session(spark)

    ctx.cycles(setup_cycle, measure)
    lat = acc["lat"]
    return {
        "attempted": acc["attempted"],
        "failed": acc["failed"],
        "e2e": {
            "cpu_ms_per_op": acc["cpu_s"] * 1e3 / len(lat) if lat else 0.0,
            "latency_p50_ms": median(lat) if lat else 0.0,
            "latency_p90_ms": p90(lat) if lat else 0.0,
        },
        "samples": len(lat),
        "layers": {
            **acc["layers"],
            "gen.late_ms_max": max(acc["late_ms"], default=0.0),
            "gen.backlog_files_end": acc["backlog"],
            "jvm.gc_ms": acc["gc_ms"],
        },
    }


# ---------------------------------------------------------------- layer view


def stream_layers(batches: list[dict], counted: list[dict]) -> dict:
    """Per-micro-batch phases and state-store figures from the data
    batches among ``batches``, and the trigger time of the state clean-up
    (no-data) batches among them; input, parse and dedup counts from
    ``counted``, every batch that fed the tally. The deduplicator's input
    is what the parser let through: the rows it kept as new voters, plus
    the duplicates and late rows it dropped."""

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    def ops(p):
        return p.get("stateOperators", [])

    cleanup = [p for p in batches if p["numInputRows"] == 0]
    batches = data_batches(batches)
    out = {"stream.batches": len(batches)}
    if cleanup:
        out["stream.cleanup_batch_ms"] = median(dur(p, "triggerExecution") for p in cleanup)
    if not batches:
        return out
    out.update({
        "stream.batch_ms_p50": median(dur(p, "triggerExecution") for p in batches),
        "stream.planning_ms": median(dur(p, "queryPlanning") for p in batches),
        "stream.wal_ms": median(dur(p, "walCommit", "commitOffsets") for p in batches),
        "stream.offsets_ms": median(dur(p, "latestOffset", "getBatch") for p in batches),
        "stream.add_batch_ms": median(dur(p, "addBatch") for p in batches),
        "state.commit_ms": median(sum(o["commitTimeMs"] for o in ops(p)) for p in batches),
        "state.rows": max(sum(o["numRowsTotal"] for o in ops(p)) for p in batches),
        "state.mem_bytes": max(sum(o["memoryUsedBytes"] for o in ops(p)) for p in batches),
        "watermark.dropped": sum(o["numRowsDroppedByWatermark"] for p in counted for o in ops(p)),
    })
    dedup = [o for p in counted for o in ops(p) if o["operatorName"] == "dedupe"]
    kept = sum(o["numRowsUpdated"] for o in dedup)
    dedup_in = kept + sum(
        o["customMetrics"].get("numDroppedDuplicateRows", 0) + o["numRowsDroppedByWatermark"] for o in dedup
    )
    rows_in = sum(p["numInputRows"] for p in counted)
    out["parse.rows_in"] = rows_in
    out["parse.malformed"] = rows_in - dedup_in
    out["dedup.kept_ratio"] = kept / dedup_in if dedup_in else 0.0
    out["dedup.kept_ratio_base"] = dedup_in
    return out
