"""Shared plumbing: the checkout-local work area, the Spark session, the
statistics, the host calibration and the span recorder.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``
(deleted at the end of a run) or ``<checkout>/.perfbench_out`` (span
dumps, kept). Python's temp dir, the JVM's ``java.io.tmpdir``, Spark's
local dirs and warehouse all point inside the work area.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


class ProgramMissing(RuntimeError):
    """The checkout does not hold the program under test."""


def prepare_work_area() -> None:
    """Fresh work area; temp files of this process, its Python workers
    and the JVM land in it."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub))
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the package too: the driver's sys.path is
    # not inherited by them, PYTHONPATH is.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def import_program() -> None:
    """Import the package from the checkout, never from elsewhere."""
    pkg_dir = os.path.join(ROOT, "realtimevotingdataengineer_spark")
    if not os.path.isfile(os.path.join(pkg_dir, "__init__.py")):
        raise ProgramMissing(f"no program package in {ROOT}")
    import realtimevotingdataengineer_spark as pkg
    import realtimevotingdataengineer_spark.operators  # noqa: F401  (registers every key)

    if os.path.dirname(os.path.abspath(pkg.__file__)) != pkg_dir:
        raise ProgramMissing(f"package imported from {pkg.__file__}, not {pkg_dir}")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(trace: bool):
    """A SparkSession from the program's own builder (``session.get_spark``)
    on ``local[<cores>]`` with the benchmark's local paths. JVM-level
    options take effect on the first start only; later starts reuse the
    JVM with a new SparkContext."""
    from realtimevotingdataengineer_spark.session import get_spark

    conf = {
        "spark.app.name": "perfbench",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
        "spark.local.dir": f"{WORK}/spark-local",
        "spark.sql.warehouse.dir": f"{WORK}/warehouse",
        "spark.sql.shuffle.partitions": str(cores()),
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.sql.files.openCostInBytes": "131072",
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB,
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        os.makedirs(f"{WORK}/eventlog", exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{WORK}/eventlog",
                # no zstd decoder is installed to read a compressed log
                "spark.eventLog.compress": "false",
                # one plain file per application (Spark 4 rolls by default)
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(f"local[{cores()}]", conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    for q in spark.streams.active:
        q.stop()
    spark.stop()


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait until it ends
    (its Python workers end with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def jvm_gc_ms(spark) -> float:
    """Total collection time of the driver JVM (in local mode it is also
    the executor JVM)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
    return float(sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()))


def tree_cpu_s() -> float:
    """CPU time (user + system) of this process and all its descendants
    (the JVM, Python workers), children already reaped included, in
    seconds. Time the hypervisor gives to other guests (steal) is not in
    it, unlike wall time."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended meanwhile
        rest = stat[stat.rindex(")") + 2 :].split()
        procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from
    ``/proc/stat``: how much of the machine the hypervisor gave away."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


# ---------------------------------------------------------------- statistics


def median(xs) -> float:
    return float(statistics.median(xs))


def p90(xs) -> float:
    xs = list(xs)
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


def calibrate_ms(reps: int = 5) -> float:
    """Median time of a fixed pure-Python loop: a host-speed reading used
    to attribute spread, never to scale a metric."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1e3)
    return median(times)


def warm_until_flat(op, min_ops: int, max_ops: int, max_s: float, window: int = 3):
    """Run ``op`` (returns its duration) at least ``min_ops`` times, then
    until the median of the last ``window`` durations no longer falls by
    more than 10 % against the ``window`` before it, or a cap is hit.
    Returns every duration. The JIT's slow gains are left to ``min_ops``:
    a finer test stops on noise, so the op count varied from run to run."""
    durations: list[float] = []
    t0 = time.perf_counter()
    while True:
        durations.append(op())
        n = len(durations)
        if n >= max_ops or time.perf_counter() - t0 >= max_s:
            return durations
        if n >= max(min_ops, 2 * window):
            prev = median(durations[-2 * window : -window])
            last = median(durations[-window:])
            if last >= prev * 0.9:
                return durations


# --------------------------------------------------------------------- spans


class Tracer:
    """In-memory spans around the benchmark's calls into the program.

    A span is (id, parent, name, start, end, attrs); spans of one
    operation share the operation's root span as their ancestor. Spans
    are kept in memory and written out once, by ``dump``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()  # each thread's open spans

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "parent": stack[-1] if stack else None,
                   "name": name, "start": time.perf_counter(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def durations_ms(self, name: str, **match) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["name"] == name and s["end"] is not None
            and all(s.get(k) == v for k, v in match.items())
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
