"""The ``dashboard`` workload: a closed loop of one client refreshing a
dashboard of five voting keys of ``registry.QUERIES`` over seeded
scale-factor 0.1 tables. A refresh runs the keys in turn, from an offset
the seed picks; each key is construct (``QUERIES[key](t)``) plus a noop
write of the result. The operation whose latency is reported is the
whole refresh: a sum of five queries is steadier than a percentile over
a mix of five keys of different cost, whose value hangs on which key a
percentile lands in.

Outputs are checked once per run, after the window, untimed: every key's collected result must have the same digest as the
key's DuckDB oracle (``registry.ORACLES``) run over the same parquet
files.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import time

from . import harness
from .harness import median, p90
from .metrics import DASHBOARD_KEYS as KEYS
from .tablegen import write_tables


def _canonical(col):
    """(type tag, canonical column): ints as int64, floats as their IEEE
    bits (so -0.0 and NaN payloads count), timestamps as int64
    microseconds, anything else as strings."""
    import numpy as np
    import pandas as pd

    kind = col.dtype.kind
    if kind in "iu":
        return "int", col.astype("int64")
    if kind == "f":
        return "float", pd.Series(col.to_numpy("float64").view(np.int64))
    if kind == "M":
        return "ts", col.astype("datetime64[us]").astype("int64")
    if kind == "b":
        return "bool", col.astype("int64")
    return "str", col.astype(str)


def digest(pdf) -> str:
    """Order-insensitive digest of a pandas result: columns by name, rows
    sorted, every column type-tagged (an int and an equal float differ)."""
    import pandas as pd

    cols = sorted(pdf.columns)
    tags, data = [], {}
    for c in cols:
        tag, col = _canonical(pdf[c].reset_index(drop=True))
        tags.append(tag)
        data[c] = col
    frame = pd.DataFrame(data, columns=cols)
    if cols:
        frame = frame.sort_values(cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256(repr(list(zip(cols, tags))).encode())
    h.update(pd.util.hash_pandas_object(frame, index=False).to_numpy().tobytes())
    return h.hexdigest()


def oracle_digests(table_dir: str, keys: list[str]) -> dict[str, str | None]:
    """Each key's oracle digest over the parquet files of ``table_dir``;
    None for an oracle that raises."""
    import duckdb

    from realtimevotingdataengineer_spark.registry import ORACLES

    con = duckdb.connect()
    try:
        for f in os.listdir(table_dir):
            con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{table_dir}/{f}'")
        out: dict[str, str | None] = {}
        for k in keys:
            try:
                out[k] = digest(con.execute(ORACLES[k]).fetch_df())
            except Exception:
                out[k] = None
        return out
    finally:
        con.close()


def _planted_failure(t):
    raise RuntimeError("planted failure")


def dashboard(ctx) -> dict:
    from realtimevotingdataengineer_spark.registry import QUERIES
    from realtimevotingdataengineer_spark.sources.tables import Tables

    size = ctx.size
    state: dict = {}
    keys = KEYS[ctx.seed % len(KEYS):] + KEYS[: ctx.seed % len(KEYS)]
    queries = {k: QUERIES[k] for k in keys}
    if ctx.plant == "raise":
        queries[keys[0]] = _planted_failure
    op_ids = itertools.count()
    acc: dict = {"samples": [], "rounds": [], "errors": [], "bad": {}, "checks": 0, "gc_ms": 0.0,
                 "cpu_s": 0.0}

    def op(key: str) -> float:
        """One query: construct plus noop write, under job groups
        ``<key>:construct:<n>`` and ``<key>:execute:<n>`` when traced."""
        spark, t, tracer = state["spark"], state["t"], ctx.tracer
        sc = spark.sparkContext
        n = next(op_ids)
        with tracer.span("op", key=key, n=n):
            t0 = time.perf_counter()
            if ctx.trace:
                sc.setJobGroup(f"{key}:construct:{n}", key)
            with tracer.span("registry.QUERIES", key=key):
                df = queries[key](t)
            if ctx.trace:
                sc.setJobGroup(f"{key}:execute:{n}", key)
            with tracer.span("noop_write", key=key):
                df.write.mode("overwrite").format("noop").save()
            return (time.perf_counter() - t0) * 1e3

    def one_round() -> float:
        """Every key once, in order; a key that raises is a failed
        operation. Returns the round's wall time in seconds."""
        t0 = time.perf_counter()
        for key in keys:
            try:
                state["sink"].append((key, op(key)))
            except Exception as ex:
                acc["errors"].append((key, repr(ex)[:300]))
        return time.perf_counter() - t0

    def setup_cycle(cycle: int) -> None:
        spark = harness.start_session(ctx.trace)
        table_dir = os.path.join(harness.WORK, f"tables_{ctx.tag}{cycle}")
        write_tables(table_dir, ctx.seed, size["sf"])
        with ctx.tracer.span("sources.tables.Tables"):
            t = Tables(spark, table_dir)
        state.update(spark=spark, t=t, dir=table_dir, sink=[])  # warm-up ops are not samples
        ctx.warm(one_round, cycle, window=2)

    def measure(cycle: int, seconds: float) -> None:
        """Whole refreshes until ``seconds`` have passed; after the last
        cycle, the output check."""
        spark = state["spark"]
        state["sink"] = acc["samples"]
        gc0, cpu0 = harness.jvm_gc_ms(spark), harness.tree_cpu_s()
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            acc["rounds"].append(one_round() * 1e3)
        acc["cpu_s"] += harness.tree_cpu_s() - cpu0
        acc["gc_ms"] += harness.jvm_gc_ms(spark) - gc0

        if cycle == ctx.setup_cycles - 1:
            check(spark)
        harness.stop_session(spark)

    def check(spark) -> None:
        """Untimed: each key's Spark result digest == its DuckDB oracle's."""
        if ctx.trace:
            spark.sparkContext.setJobGroup("check", "output check")
        expected = oracle_digests(state["dir"], keys)
        if ctx.plant == "digest":
            expected[keys[0]] = "planted-wrong-digest"
        for k in keys:
            try:
                got = digest(queries[k](state["t"]).toPandas())
            except Exception as ex:
                got = repr(ex)[:300]
            if expected[k] is None or got != expected[k]:
                acc["bad"][k] = "oracle raised" if expected[k] is None else got
        acc["checks"] += len(keys)

    ctx.cycles(setup_cycle, measure)
    samples, errors = acc["samples"], acc["errors"]
    by_key = {k: [ms for kk, ms in samples if kk == k] for k in keys}
    ctx.note(digest_mismatch=acc["bad"], errors=errors[:5],
             key_p50_ms={k: round(median(v), 1) for k, v in by_key.items() if v})
    rounds = acc["rounds"]
    result = {
        "attempted": len(samples) + len(errors) + acc["checks"],
        "failed": len(errors) + len(acc["bad"]),
        "e2e": {
            "latency_p50_ms": median(rounds),
            "latency_p90_ms": p90(rounds),
            "cpu_ms_per_op": acc["cpu_s"] * 1e3 / len(rounds),
        },
        "samples": len(rounds),
        "layers": {"jvm.gc_ms": acc["gc_ms"]},
    }
    if ctx.trace:
        for k in keys:
            result["layers"][f"construct_ms.{k}"] = median(ctx.tracer.durations_ms("registry.QUERIES", key=k) or [0])
            result["layers"][f"execute_ms.{k}"] = median(ctx.tracer.durations_ms("noop_write", key=k) or [0])
    return result
