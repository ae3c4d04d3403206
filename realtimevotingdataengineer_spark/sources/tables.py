"""Batch table sources: the driver's parquet star schema.

Reference analog: ``scan_table_full`` (main.py:170-175) — a full relational
scan. Here every scan is a parquet ``spark.read`` so Catalyst gets
predicate pushdown + column pruning for free (check ``PushedFilters`` /
``ReadSchema`` in ``.explain("formatted")``).

Scale note (100 TB): facts (lineitem/orders/events) would be
date-partitioned parquet/Delta in production; the loader keeps the access
path behind one function so partition-pruned reads slot in without
touching operator code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

from ..session import configure_for_queries

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, TimestampNTZType):
        # events.ts is parquet timestamp[us] with no timezone, which
        # Spark 4 surfaces as TIMESTAMP_NTZ. Operators (and DuckDB's
        # oracle views) treat ts as a plain instant, so the file is read
        # again with ts typed TIMESTAMP: the scan takes the stored micros
        # as the instant, with no per-row cast (a cast converts every
        # value through the session zone). Under the session's UTC pin
        # the values equal the cast's, and every consumer gets ordinary
        # timestamp arithmetic (cast("long"), window(), session_window()).
        fields = [
            StructField(f.name, TimestampType(), f.nullable) if f.name == "ts" else f
            for f in df.schema.fields
        ]
        df = spark.read.schema(StructType(fields)).parquet(path)
    return df


class Tables:
    """Lazy handle bundle for one scale-factor directory.

    Each attribute is a plain DataFrame, so operators stay pure
    DataFrame→DataFrame functions and the binding to a scale factor
    happens in exactly one place.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = configure_for_queries(spark)
        self.sf_dir = sf_dir
        self._counts: dict[str, int] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            df = load_table(self.spark, self.sf_dir, name)
            setattr(self, name, df)  # cache: parquet scans are cheap to re-plan but this keeps plans stable
            return df
        raise AttributeError(name)

    def cached_count(self, name: str) -> int:
        """Row count of a base table, computed once per Tables instance.

        Derived-dial operators (codebook_rung / srp_width_rung) size
        their layouts from the corpus count at query-CONSTRUCTION time
        — the count picks the columns and joins the plan is built from,
        so it is necessarily an eager job. Caching it here means a
        sweep (or a plan-only audit) that constructs many derived-dial
        keys over the same Tables pays one count per table, not one per
        key (round-12 ADVICE: dedup_embedding_srp's construction-time
        count). The static-fixture contract holds: within one Tables
        binding the source does not change, so the cached count equals
        the oracle's count(*)-at-execution."""
        if name not in self._counts:
            self._counts[name] = getattr(self, name).count()
        return self._counts[name]


def corpus_count(t, name: str) -> int:
    """``t.cached_count(name)`` with a fallback for the bare test
    stubs (``class _T: embeddings = df``) operators accept — derived-
    dial keys call this so a stub pays a plain ``count()`` while a
    real Tables binding shares one cached count across every key."""
    cc = getattr(t, "cached_count", None)
    return cc(name) if cc is not None else getattr(t, name).count()
