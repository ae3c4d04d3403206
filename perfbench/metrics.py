"""Metric names, units and directions; BENCHMARK.json lists the same."""

from __future__ import annotations

DASHBOARD_KEYS = [
    "agg_votes_per_candidate",
    "agg_votes_per_party",
    "agg_turnout_by_location",
    "window_tumbling",
    "stream_dedup_one_vote",
]

#: (name, unit, better, bound)
E2E = [
    ("latency_p50_ms", "ms", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

#: Figures of the untraced window that are reported per layer, not gated:
#: a tail over a window's few operations, and the CPU time of the whole
#: process tree per operation.
UNGATED = [("latency_p90_ms", "ms", "lower"), ("cpu_ms_per_op", "ms", "lower")]

#: Operations the untraced window's figures are taken over.
SAMPLES = ("samples", "count", "higher")

#: (name, unit, better)
PER_LAYER = [
    *UNGATED,
    SAMPLES,
    ("stream.batch_ms_p50", "ms", "lower"),
    ("stream.batches", "count", "higher"),
    ("stream.cleanup_batch_ms", "ms", "lower"),
    ("stream.planning_ms", "ms", "lower"),
    ("stream.wal_ms", "ms", "lower"),
    ("stream.offsets_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("state.commit_ms", "ms", "lower"),
    ("state.rows", "count", "lower"),
    ("state.mem_bytes", "bytes", "lower"),
    ("watermark.dropped", "count", "higher"),
    ("parse.rows_in", "count", "higher"),
    ("parse.malformed", "count", "lower"),
    ("dedup.kept_ratio", "ratio", "higher"),
    ("dedup.kept_ratio_base", "count", "higher"),
    *[(f"{m}.{k}", u, "lower") for m, u in (
        ("construct_ms", "ms"), ("execute_ms", "ms"), ("jobs", "count"),
        ("executor_ms", "ms"), ("shuffle_bytes", "bytes"), ("driver_gap_ms", "ms"),
    ) for k in DASHBOARD_KEYS],
    ("jvm.gc_ms", "ms", "lower"),
    ("gen.late_ms_max", "ms", "lower"),
    ("gen.backlog_files_end", "count", "lower"),
    ("host.calib_ms_start", "ms", "lower"),
    ("host.calib_ms_end", "ms", "lower"),
    ("host.load1_start", "load", "lower"),
    ("host.load1_end", "load", "lower"),
    ("host.steal_pct", "%", "lower"),
    *[(f"traced.{name}", unit, better) for name, unit, better, *_ in E2E + UNGATED],
    ("trace.overhead_pct.latency_p50_ms", "%", "lower"),
    ("trace.overhead_pct.cpu_ms_per_op", "%", "lower"),
]
