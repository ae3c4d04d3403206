"""Schema contract: the exact Spark dtypes operators assume, per table, per SF.

Round-3 lesson: the testdata's ``events.ts`` silently drifted from parquet
``TIMESTAMP(NANOS)`` to ``timestamp[us]`` (no tz), which Spark 4 surfaces as
``TIMESTAMP_NTZ`` — and a single ``cast("long")`` downstream became an
AnalysisException that took out the bench. This test fails the moment any
``/root/testdata`` parquet surfaces a different logical type than operators
expect, so the drift is caught at the source, not three layers down.

``load_table`` is the single choke point that normalizes ``events.ts`` to
session-timezone ``TIMESTAMP`` (UTC-pinned, value-preserving); everything
else is asserted as-read.
"""

from __future__ import annotations

import os

import pytest

from realtimevotingdataengineer_spark.sources.tables import TABLE_NAMES, load_table

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]

#: (table, column) -> simpleString dtype that operators rely on.
EXPECTED = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        # NTZ as-read is fine here: orderdate/shipdate are only compared
        # against date literals, never cast to long for arithmetic.
        "o_orderdate": "timestamp_ntz",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp_ntz",
    },
    "events": {
        "event_id": "bigint",
        # normalized by load_table: session/window/asof operators do
        # cast("long") epoch arithmetic, which TIMESTAMP_NTZ rejects.
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


def test_contract_covers_every_table():
    assert set(EXPECTED) == set(TABLE_NAMES)


@pytest.mark.parametrize("sf", SF_DIRS, ids=[d.rsplit("/", 1)[-1] for d in SF_DIRS])
@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_table_schema_matches_contract(spark, sf, table):
    df = load_table(spark, sf, table)
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert actual == EXPECTED[table], (
        f"{table}@{sf}: schema drifted from the operator contract.\n"
        f"  expected: {EXPECTED[table]}\n  actual:   {actual}"
    )


@pytest.mark.skipif(
    "/root/testdata/sf0.01" not in SF_DIRS, reason="sf0.01 testdata not present"
)
def test_events_ts_read_as_instant_equals_cast(spark):
    """load_table types events.ts at the scan (TIMESTAMP read schema over
    the file's TIMESTAMP_NTZ micros) instead of casting every row; each
    event's ts equals what the per-row cast gave under the UTC pin."""
    from pyspark.sql import functions as F

    from realtimevotingdataengineer_spark.plans import formatted_plan

    sf = "/root/testdata/sf0.01"
    typed = load_table(spark, sf, "events")
    assert "cast(ts" not in formatted_plan(typed).lower()
    cast = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    typed = typed.select("event_id", "ts")
    assert typed.count() == cast.count() > 0
    assert typed.exceptAll(cast).count() == 0 and cast.exceptAll(typed).count() == 0
