"""Plan-hygiene audit: one row of physical-plan statistics per
registered key, written as a markdown table.

Counts, per key's formatted plan: parquet scans, shuffle exchanges,
broadcast joins, sort-merge joins, sort nodes, window nodes, Python
(Arrow) evaluation nodes, and whether any scan carries a pushed filter.
The point is drift detection: a refactor that silently turns a
broadcast join into a sort-merge join, or adds a corpus re-scan, shows
up as a diff in the committed report.

Usage: python tools/plan_audit.py [sf_dir] > PLANS_r{N}.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import realtimevotingdataengineer_spark.operators  # noqa: E402,F401
from realtimevotingdataengineer_spark.plans import formatted_plan  # noqa: E402
from realtimevotingdataengineer_spark.registry import QUERIES  # noqa: E402
from realtimevotingdataengineer_spark.session import get_spark  # noqa: E402
from realtimevotingdataengineer_spark.sources.tables import Tables  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

_NODE = re.compile(r"^\s*\(\d+\) ([A-Za-z]+)", re.M)


def main() -> None:
    spark = get_spark(
        "local[8]",
        {
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t = Tables(spark, SF_DIR)
    print(f"# Plan audit @ {SF_DIR}\n")
    print(
        "| key | scans | exchanges | bcast joins | SMJ | sorts | windows "
        "| py/arrow | pushed filter |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    for key in sorted(QUERIES):
        try:
            plan = formatted_plan(QUERIES[key](t))
        except Exception as ex:  # construct-time failure IS the finding
            print(f"| {key} | ERROR: {type(ex).__name__} | | | | | | | |")
            continue
        nodes = _NODE.findall(plan)
        scans = sum(1 for n in nodes if n == "Scan")
        exch = sum(1 for n in nodes if n == "Exchange")
        bhj = sum(1 for n in nodes if n.startswith("Broadcast") and "Join" in n)
        smj = sum(1 for n in nodes if n == "SortMergeJoin")
        sorts = sum(1 for n in nodes if n == "Sort")
        wins = sum(1 for n in nodes if n == "Window")
        py = sum(
            1
            for n in nodes
            if n
            in (
                "ArrowEvalPython",
                "BatchEvalPython",
                "FlatMapGroupsInPandas",
                "MapInPandas",
            )
        )
        pushed = "yes" if "PushedFilters: [" in plan and not re.search(
            r"PushedFilters: \[\]", plan
        ) else ""
        print(
            f"| {key} | {scans} | {exch} | {bhj} | {smj} | {sorts} "
            f"| {wins} | {py} | {pushed} |"
        )


if __name__ == "__main__":
    main()
