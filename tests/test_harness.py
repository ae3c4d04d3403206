"""Tests for the measurement and correctness harnesses: the oracle
comparator must actually fail on wrong results (guards against a
vacuous comparison), every script starts Spark through one builder, and
bench.py's timing loop survives a failing key."""

from __future__ import annotations

import ast
import importlib.util
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
TOOLS = REPO / "tools"
sys.path.insert(0, str(TOOLS))

from check_oracle import compare  # noqa: E402


def test_comparator_detects_value_drift(spark):
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    ok = compare("t", df, "SELECT * FROM (VALUES (1, 10.0), (2, 20.0)) t(k, v)")
    assert ok == "OK"
    bad = compare("t", df, "SELECT * FROM (VALUES (1, 10.0), (2, 20.000001)) t(k, v)")
    assert bad.startswith("VALUE"), bad


def test_comparator_detects_row_count(spark):
    df = spark.createDataFrame([(1,)], "k int")
    bad = compare("t", df, "SELECT * FROM (VALUES (1), (2)) t(k)")
    assert bad.startswith("ROWS"), bad


def test_comparator_detects_schema(spark):
    df = spark.createDataFrame([(1,)], "k int")
    bad = compare("t", df, "SELECT 1 AS other")
    assert bad.startswith("SCHEMA"), bad


def test_comparator_order_insensitive(spark):
    df = spark.createDataFrame([(2, "b"), (1, "a")], "k int, s string")
    ok = compare("t", df, "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, s)")
    assert ok == "OK"


def test_get_spark_sets_streaming_checkpoint_defaults(spark, monkeypatch):
    """get_spark's conf carries the streaming checkpoint settings (the
    RocksDB state store with changelog commits, the FileSystem
    checkpoint manager, the raw local file system without .crc
    side-files, Spark's own checkpoint checksums left on) and the AQE
    coalescing floor, their classes exist, and a caller's extra_conf
    still wins."""
    from types import SimpleNamespace

    from realtimevotingdataengineer_spark import session

    provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    manager = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    conf: dict = {}

    class Builder:
        def appName(self, _name):
            return self

        def master(self, _master):
            return self

        def config(self, key, value):
            conf[key] = value
            return self

        def getOrCreate(self):
            return conf

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    got = session.get_spark()
    assert got["spark.sql.streaming.stateStore.providerClass"] == provider
    assert got["spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"] == "true"
    assert got["spark.sql.streaming.checkpointFileManagerClass"] == manager
    assert got["spark.hadoop.fs.file.impl"] == "org.apache.hadoop.fs.RawLocalFileSystem"
    assert got.get("spark.sql.streaming.checkpoint.fileChecksum.enabled", "true") != "false"
    assert got["spark.sql.adaptive.coalescePartitions.minPartitionSize"] == "256KB"
    spark._jvm.java.lang.Class.forName(provider)
    spark._jvm.java.lang.Class.forName(manager)
    spark._jvm.java.lang.Class.forName(got["spark.hadoop.fs.file.impl"])
    key = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    assert session.get_spark(extra_conf={key: "false"})[key] == "false"


def _scripts() -> list[Path]:
    return [REPO / "bench.py", *sorted(TOOLS.glob("*.py"))]


def test_scripts_build_spark_through_get_spark():
    """bench.py, every tool and every test start Spark via
    session.get_spark (the bench config lives once, in
    bench.bench_session; pytest's in conftest.py) — no hand-copied
    SparkSession.builder blocks. Matched on the syntax tree, since this
    file names the attribute in its own text."""
    offenders = [
        p.name
        for p in [*_scripts(), *sorted((REPO / "tests").glob("*.py"))]
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Attribute)
        and node.attr == "builder"
        and isinstance(node.value, ast.Name)
        and node.value.id == "SparkSession"
    ]
    assert offenders == []


def test_tool_imports_resolve():
    """Every module a script imports resolves (tools/ is on sys.path
    here, so sibling scripts count) — a deleted helper script cannot
    leave a dangling ``from <sibling> import``."""
    missing = []
    for path in _scripts():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                names = [node.module]
            elif isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            else:
                continue
            missing += [
                f"{path.name}: {name}"
                for name in names
                if importlib.util.find_spec(name.split(".")[0]) is None
            ]
    assert missing == []


def test_package_reads_environment_only_in_session():
    """The engine's behaviour is set by its arguments and module
    constants; the environment is read in one place, session.py (CPU
    count and shuffle width). No other package module may read
    ``os.environ`` or call ``getenv``, so no hidden switch (a probe-only
    debug flag, say) can change what a query or gate does."""
    pkg = REPO / "realtimevotingdataengineer_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "session.py" and path.parent == pkg:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else node.name if isinstance(node, ast.alias)
                else None
            )
            if name in ("environ", "getenv", "environb", "getenvb"):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert offenders == []


def test_streaming_touches_no_py4j_internals():
    """Streaming state lives in Spark's state store, or in parquet that
    DataFrame writers write; no module under ``streaming/`` reaches
    into the JVM through ``spark._jvm`` or ``spark._jsc`` (a hand-rolled
    Hadoop FileSystem store, say)."""
    pkg = REPO / "realtimevotingdataengineer_spark" / "streaming"
    offenders = [
        f"{path.name}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr in ("_jvm", "_jsc")
    ]
    assert offenders == []


def test_time_keys_records_errors_without_aborting(spark, sf_dir, monkeypatch):
    """bench.time_keys (the one timing loop behind bench.py, bench_drift
    and profile_key) returns a (construct, execute) pair per rep for a
    good key and an error entry for a key that raises, and keeps timing
    the keys after it."""
    import bench
    from realtimevotingdataengineer_spark.registry import QUERIES
    from realtimevotingdataengineer_spark.sources.tables import Tables

    def broken(t):
        raise RuntimeError("broken key")

    monkeypatch.setitem(QUERIES, "test_broken_key", broken)
    keys = ["agg_count_rows", "test_broken_key", "agg_votes_per_candidate"]
    runs, errors = bench.time_keys(Tables(spark, sf_dir), keys, reps=2)
    assert list(runs) == ["agg_count_rows", "agg_votes_per_candidate"]
    for parts in runs.values():
        assert len(parts) == 2
        for construct, execute in parts:
            assert construct >= 0 and execute > 0
    assert list(errors) == ["test_broken_key"]
    assert "broken key" in errors["test_broken_key"]
