"""Local driver-sim: run every queries() entry against its DuckDB oracle.

Usage: python tools/check_oracle.py [sf_dir] [key ...]

Mimics the driver's comparison: row count, schema arity, and an
order-insensitive value comparison (columns sorted by name, rows sorted).
Exact equality for every cell (the engine is designed so even doubles
match bitwise).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
NO_FIXTURES = "--no-fixtures" in sys.argv
ONLY = [a for a in sys.argv[1:] if "/" not in a and not a.startswith("--")]

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con():
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        except Exception:
            pass  # table views are only needed by oracles that read them
    return con


_FXDIR: str | None = None


def build_fixtures() -> str | None:
    """Materialize the registered shared oracle CTE chains once per SF
    (registry.ORACLE_FIXTURE_BLOCKS — round-10 verdict ask #3: shingle
    sets / signature chains re-derived by 10+ oracles each). Fixture
    filenames carry a hash of the member SQL, so editing a chain
    definition auto-invalidates the cache; the sweep's end-to-end value
    equality re-verifies every substituted key regardless. Disabled
    with --no-fixtures (the pristine driver posture)."""
    import hashlib
    import os

    from realtimevotingdataengineer_spark.registry import ORACLE_FIXTURE_BLOCKS

    if NO_FIXTURES or not ORACLE_FIXTURE_BLOCKS:
        return None
    tag = hashlib.md5(SF_DIR.encode()).hexdigest()[:8]
    fxdir = f"/tmp/oracle_fixtures/{os.path.basename(SF_DIR.rstrip('/'))}_{tag}"
    os.makedirs(fxdir, exist_ok=True)
    for grp in ORACLE_FIXTURE_BLOCKS:
        for member, sql in grp["members"].items():
            h = hashlib.md5(sql.encode()).hexdigest()[:10]
            path = f"{fxdir}/{member}_{h}.parquet"
            if not os.path.exists(path):
                t0 = time.time()
                duck_con().execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
                print(
                    f"[fixture] {grp['name']}/{member} built "
                    f"({time.time() - t0:.1f}s)"
                )
            # stable symlink-free alias for the replacement text
            alias = f"{fxdir}/{member}.parquet"
            if os.path.realpath(alias) != os.path.realpath(path):
                if os.path.lexists(alias):
                    os.remove(alias)
                os.symlink(path, alias)
    return fxdir


def apply_fixtures(sql: str) -> str:
    if _FXDIR is None:
        return sql
    from realtimevotingdataengineer_spark.registry import ORACLE_FIXTURE_BLOCKS

    for grp in ORACLE_FIXTURE_BLOCKS:
        if grp["block"] in sql:
            sql = sql.replace(
                grp["block"], grp["replacement"].replace("{fx}", _FXDIR)
            )
    return sql


def duck_run(sql: str):
    return duck_con().execute(apply_fixtures(sql)).fetch_df()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def compare(name, spark_df, sql) -> str:
    import pandas as pd

    sp = spark_df.toPandas()
    du = duck_run(sql)
    sp = sp.reindex(sorted(sp.columns), axis=1)
    du = du.reindex(sorted(du.columns), axis=1)
    if list(sp.columns) != list(du.columns):
        return f"SCHEMA cols spark={list(sp.columns)} duck={list(du.columns)}"
    if len(sp) != len(du):
        return f"ROWS spark={len(sp)} duck={len(du)}"
    # dtype-class strictness: the driver's hash distinguishes int64 from
    # float64 (DuckDB HUGEINT sums surface as float64 — the round-2
    # corpus_domain_stats / events_error_rate_daily failures), so flag
    # int-vs-float divergence even when values compare equal in Python.
    def dtype_class(dt) -> str:
        s = str(dt)
        if s.startswith(("int", "uint", "Int", "UInt")):
            return "int"
        if s.startswith(("float", "Float")):
            return "float"
        return "other"

    for c in sp.columns:
        a, b = dtype_class(sp[c].dtype), dtype_class(du[c].dtype)
        if {a, b} == {"int", "float"}:
            return f"DTYPE col={c}: spark={sp[c].dtype} duck={du[c].dtype}"
    # normalize timestamps to pandas datetime64[us]; make list cells
    # hashable/sortable (array-typed outputs). Round 11: the list-ness
    # probe peeks at the first non-null value instead of mapping an
    # isinstance lambda over every cell (tens of millions of Python
    # calls on the multi-million-row keys); columns are homogeneous by
    # construction (parquet/Spark schemas), and a missed conversion
    # crashes the sort loudly rather than comparing wrong.
    for df in (sp, du):
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            elif df[c].dtype == object:
                nn = df[c].dropna()
                if len(nn) and (
                    isinstance(nn.iloc[0], (list, tuple))
                    or type(nn.iloc[0]).__name__ == "ndarray"
                ):
                    df[c] = df[c].map(
                        lambda v: tuple(v) if v is not None else None
                    )
    key = list(sp.columns)
    sp_s = sp.sort_values(key, kind="mergesort").reset_index(drop=True)
    du_s = du.sort_values(key, kind="mergesort").reset_index(drop=True)
    import numpy as np

    for c in sp.columns:
        a, b = sp_s[c], du_s[c]
        # vectorized fast path (round 11: the per-cell Python loop was
        # the sweep's real cost on multi-million-row keys — 54s of
        # dedup_simhash_hamming's 57.6s at sf0.1 was THIS loop, not the
        # oracle). Exact elementwise equality, NaN/None equal iff both.
        try:
            eq = np.asarray(a.values == b.values)
            ok = (
                eq | (a.isna().values & b.isna().values)
                if eq.shape == (len(a),)
                else None
            )
        except Exception:
            ok = None
        if ok is not None and bool(ok.all()):
            continue
        for i, (x, y) in enumerate(zip(a, b)):
            x, y = norm_cell(x), norm_cell(y)
            if x != y and not (x is None and y is None):
                return f"VALUE col={c} row={i}: spark={x!r} duck={y!r}"
    return "OK"


def main():
    import __spark_entry__ as e
    from realtimevotingdataengineer_spark.session import get_spark

    spark = get_spark(
        "local[8]",
        {
            "spark.app.name": "check-oracle",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.sql.shuffle.partitions": "8",
            "spark.driver.memory": "8g",
            # round 11: Arrow toPandas — the non-Arrow collect was 23s of
            # dedup_simhash_hamming's sweep time at sf0.1 (3.5M rows); the
            # sweep itself re-verifies value equality end to end, so any
            # Arrow conversion drift would fail loudly as a VALUE diff
            "spark.sql.execution.arrow.pyspark.enabled": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    global _FXDIR
    _FXDIR = build_fixtures()
    qs = e.queries()
    oracles = e.oracle_sql()
    fails = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            if name in oracles:
                res = compare(name, df, oracles[name])
            else:
                res = f"rows-only ({df.count()} rows)"
        except Exception as ex:
            res = f"ERROR {type(ex).__name__}: {str(ex)[:300]}"
        dt = time.time() - t0
        status = "PASS" if res == "OK" or res.startswith("rows-only") else "FAIL"
        if status == "FAIL":
            fails += 1
        print(f"[{status}] {name:28s} {dt:6.1f}s  {res}")
    print(f"\n{fails} failures")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
