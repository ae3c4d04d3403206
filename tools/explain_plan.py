"""Dump the formatted physical plan of any queries() key.

Usage: python tools/explain_plan.py [sf_dir] key [key ...]

Plans are built on bench.py's session (sf0.01 unless ``sf_dir`` is
given); pass the bench's sf dir to get the plan the bench times.
Redirect stdout to keep a before/after record, e.g.
``python tools/explain_plan.py <sf0.1 dir> KEY > plans/rN/KEY_before.txt``.

The evidence loop for the 100 TB posture: check PushedFilters /
ReadSchema on scans, BroadcastHashJoin vs SortMergeJoin, Exchange
count, WholeStageCodegen spans. tests/test_plans.py pins the properties
that must not regress; this tool is for eyeballing the rest.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session  # noqa: E402
from realtimevotingdataengineer_spark.registry import QUERIES  # noqa: E402
from realtimevotingdataengineer_spark.sources.tables import Tables  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
KEYS = [a for a in sys.argv[1:] if "/" not in a]


def main() -> None:
    t = Tables(bench_session("explain_plan"), SF_DIR)
    for key in KEYS:
        print(f"\n{'=' * 70}\n{key}\n{'=' * 70}")
        QUERIES[key](t).explain("formatted")


if __name__ == "__main__":
    main()
