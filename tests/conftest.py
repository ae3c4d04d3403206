from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from realtimevotingdataengineer_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "local[4]",
        {
            "spark.sql.shuffle.partitions": "4",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            # Pinned explicitly (same value as the Spark default): round 6
            # removed every forced F.broadcast hint on SF-proportional
            # relations (part/supplier/customer/support aggregates), so the
            # broadcast assertions in test_plans.py now prove that the
            # *threshold* machinery — not a hint — picks broadcast at test
            # SF. At the 100 TB design point those sides exceed the
            # threshold and AQE degrades them to shuffle joins instead of
            # attempting an executor-killing broadcast.
            "spark.sql.autoBroadcastJoinThreshold": "10485760",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
