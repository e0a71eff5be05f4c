"""Named query assemblies wired into __spark_entry__.py.

Each module exposes:
    QUERIES: dict[str, Callable[(SparkSession, sf_dir: str), DataFrame]]
    ORACLES: dict[str, str]  — ANSI SQL DuckDB equivalents, one per query

Differential-testing conventions (tests/test_oracle.py compares row count,
Arrow dtypes and order-insensitive values, columns sorted by name):
    - timestamps are returned as epoch-millis BIGINT, never TimestampType
      (timezone/precision proof);
    - every float aggregate is ROUND()ed to a fixed scale in BOTH dialects
      (summation order differs between engines; last-ulp noise is expected);
    - ranks/counts cast to BIGINT in both dialects;
    - every computed column aliased identically in both dialects.
"""

from . import advanced, enterprise, llm_data, reference_queries, relational, tpch_extra

_MODULES = (reference_queries, enterprise, advanced, llm_data, relational, tpch_extra)


def _merged(attr):
    merged = {}
    for m in _MODULES:
        merged.update(getattr(m, attr))
    return merged


def all_queries():
    return _merged("QUERIES")


def all_oracles():
    return _merged("ORACLES")
