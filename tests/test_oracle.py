"""Every registered query equals its DuckDB oracle at sf0.01: same row
count, columns, Arrow dtypes and order-insensitive values.  The
comparison lives in tools/check_oracle.py, whose CLI loops over the same
``check_query``."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

import __spark_entry__ as entry

TOOLS = Path(__file__).resolve().parents[1] / "tools"
sys.path.insert(0, str(TOOLS))

from check_oracle import check_query, connect  # noqa: E402


@pytest.fixture(scope="module")
def con():
    c = connect()
    yield c
    c.close()


def _live_pins(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.fixture(scope="module")
def pins_before(spark):
    """The session's pins before the first query of this module ran."""
    return _live_pins(spark)


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_query_matches_oracle(spark, con, pins_before, name):
    assert check_query(spark, con, name) == []


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A mapInPandas query over a package function, checked from a
    directory outside the repo with no PYTHONPATH: the workers must get
    the package from the session, not from their working directory."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, str(TOOLS / "check_oracle.py"), "multimodal_image_phash"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stdout[-3000:] + run.stderr[-3000:]
    assert "OK    multimodal_image_phash" in run.stdout


def test_oracle_run_leaves_only_cache_pins(spark, pins_before, memo_pins):
    """Each check builds its query inside a pins() scope, so after the
    whole registry ran, every pin it left is a session memo entry (shared
    across queries; a new input or release_pinned_cache releases it)."""
    assert _live_pins(spark) - pins_before - memo_pins() == set()
