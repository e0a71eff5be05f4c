"""Public query surface of the engine.

``entry(spark)`` is the flagship smoke query.  ``queries()`` maps every
registered query name to its builder, and ``oracle_sql()`` maps the same
names to DuckDB SQL; ``tests/test_oracle.py`` runs each query at sf0.01
against its oracle (row count, Arrow dtypes, order-insensitive values).

Implementation lives in ``test_flink_spark/`` (plans/ holds the named query
assemblies; operators/ the reusable DataFrame operator library).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# callers may import this module from any CWD — make the repo importable
# (Python workers get the package from session.ship_package)
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 phase 0): HotItemAnalysis batch replica —
    filter 'view' events → 1 h / 5 min sliding window count per user →
    Top-3 per window — on /root/testdata/sf0.001."""
    from test_flink_spark.plans.reference_queries import hot_items_topn

    return hot_items_topn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ north-star
    LLM-data operators).  Each callable takes (spark, sf_dir) and returns a
    DataFrame; every computed column is aliased to match ``oracle_sql``."""
    from test_flink_spark.plans import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query (every
    registered query has one)."""
    from test_flink_spark.plans import all_oracles

    return all_oracles()
