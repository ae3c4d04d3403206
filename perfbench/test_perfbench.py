"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests run ``run.py --smoke`` (tiny inputs, a 2-second
window) in a subprocess, about 20 s each; the rest are unit tests of the
benchmark's own helpers.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import dashboard, eventlog, stream, votegen  # noqa: E402
from perfbench.metrics import E2E, PER_LAYER  # noqa: E402

WORKLOADS = ["live_votes", "dashboard"]


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=300
    )


def _smoke(workload: str, trace: int = 0, plant: str | None = None) -> dict:
    args = ["--workload", workload, "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"]
    if plant:
        args += ["--plant", plant]
    p = _run(ROOT, *args)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, expected: list) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    want = {name: unit for name, unit, *_ in expected}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_emits_every_end_to_end_metric(workload):
    res = _smoke(workload)
    _assert_metrics(res, E2E)
    assert res["correct"] and res["failed"] == 0
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_traced_emits_every_layer_metric(workload):
    res = _smoke(workload, trace=1)
    _assert_metrics(res, PER_LAYER)
    assert res["correct"] and res["failed"] == 0


def test_planted_wrong_tally_is_a_failed_operation():
    res = _smoke("live_votes", plant="tally")
    assert not res["correct"] and res["failed"] >= 1


def test_planted_wrong_digest_is_a_failed_operation():
    res = _smoke("dashboard", plant="digest")
    assert not res["correct"] and res["failed"] == 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_raise_is_counted_not_a_crash(workload):
    # dashboard: one key raises on every call; live_votes: the query dies
    res = _smoke(workload, plant="raise")
    _assert_metrics(res, E2E)
    assert not res["correct"] and res["failed"] >= 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "dashboard", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_benchmark_json_matches_metric_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["paths"] == ["perfbench"]
    assert [w["name"] for w in spec["workloads"]] == WORKLOADS
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [tuple(m) for m in E2E]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [tuple(m) for m in PER_LAYER]


# ------------------------------------------------------------------ helpers


def test_live_files_are_seeded_and_plant_what_they_count(tmp_path):
    def files(seed):
        d = tmp_path / str(seed)
        writer = votegen.VoteFileWriter(str(d / "in"), str(d / "st"), seed, 50)
        names = [writer.write(0.0) for _ in range(10)]
        return [(d / "in" / n).read_text().splitlines() for n in names]

    a = files(3)
    assert a == files(3) and a != files(4)
    assert all(sum(ln.startswith('{"voter_id": "broken') for ln in f) == 1 for f in a)
    votes = [json.loads(ln) for f in a for ln in f if not ln.startswith('{"voter_id": "broken')]
    by_voter = {}
    for v in votes:  # every copy of a vote is identical
        assert by_voter.setdefault(v["voter_id"], v) == v
    assert len(by_voter) == 500 < len(votes)


def test_file_batches_counts_each_file_once_across_compaction(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    entry = lambda n, b: json.dumps({"path": f"file:///in/votes-{n}.json", "timestamp": 0, "batchId": b})  # noqa: E731
    (src / "8").write_text("v1\n" + entry(8, 8) + "\n")
    (src / "9.compact").write_text("v1\n" + "\n".join(entry(i, i) for i in range(10)) + "\n")
    (src / "10").write_text("v1\n" + entry(10, 10) + "\n")
    got = stream.file_batches(str(tmp_path))
    assert got == {f"votes-{i}.json": i for i in range(11)}


def test_query_batches_maps_source_batches_past_cleanup_batches():
    def batch(bid, rows, start, end):
        return {"batchId": bid, "numInputRows": rows, "sources": [{"startOffset": start, "endOffset": end}]}

    progress = [
        batch(0, 0, "None", "None"),  # idle report before the first file
        batch(0, 51, "None", "{'logOffset': 0}"),
        batch(1, 0, "{'logOffset': 0}", "{'logOffset': 0}"),  # state clean-up
        batch(2, 104, "{'logOffset': 0}", "{'logOffset': 2}"),
    ]
    assert stream.query_batches(progress) == {0: 0, 1: 2, 2: 2}


def test_busy_time_is_the_union_of_job_intervals():
    assert eventlog.busy_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.busy_s([]) == 0


def test_digest_ignores_row_order_but_not_types():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "v": [1, 2]})
    b = pd.DataFrame({"v": [2, 1], "k": ["y", "x"]})
    c = pd.DataFrame({"k": ["x", "y"], "v": [1.0, 2.0]})
    assert dashboard.digest(a) == dashboard.digest(b) != dashboard.digest(c)
