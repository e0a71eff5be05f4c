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
