from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from test_flink_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def memo_pins(spark):
    """A function returning the RDD ids that the session's memo entries
    pin now (session.Memo, the only session cache)."""
    from test_flink_spark.plans import advanced, llm_data
    from test_flink_spark.session import Memo
    from test_flink_spark.sources import bucketed

    memos = [
        v for m in (llm_data, advanced, bucketed) for v in vars(m).values()
        if isinstance(v, Memo)
    ]

    def now() -> set:
        return {
            m._pin[1][1] for m in memos
            if m._pin and m._pin[1][0] is spark.sparkContext
        }

    return now
