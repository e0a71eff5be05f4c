#!/usr/bin/env python3
"""Spark-vs-DuckDB differential check: run a registered query
(``__spark_entry__.queries()``) on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01, then compare row count, columns, Arrow dtype parity and
order-insensitive values.  ``tests/test_oracle.py`` runs ``check_query``
over the whole registry; this CLI is a loop over the same function.

Usage: python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

# Arrow type of an oracle column -> the Spark dtype the query must return
# (other Arrow types must match Spark's simpleString verbatim)
_ARROW_TO_SPARK = {
    "int64": "bigint",
    "int32": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
}


def normalize(df):
    """pandas DataFrame → canonical sorted form for order-insensitive compare."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def connect(sf_dir: str = SF_DIR):
    """DuckDB connection with one view per testdata table of ``sf_dir``."""
    import duckdb

    from test_flink_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_query(spark, con, name: str, sf_dir: str = SF_DIR) -> list[str]:
    """Differences between query ``name`` and its DuckDB oracle; empty when
    they agree.  Spark or DuckDB errors propagate to the caller.  The query
    is built and collected inside one ``pins()`` scope, which releases
    every pin it took (session-cache entries excepted)."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as entry
    from test_flink_spark.session import pins

    oracle = entry.oracle_sql().get(name)
    if oracle is None:
        return ["no oracle SQL registered"]
    with pins():
        df = entry.queries()[name](spark, sf_dir)
        spark_dtypes = dict(df.dtypes)
        s = normalize(df.toPandas())
    arrow = con.execute(oracle).fetch_arrow_table()
    o = normalize(arrow.to_pandas())

    failures = []
    # dtype parity: int32-vs-int64 or DECIMAL sums would pass the
    # stringified value compare but are a schema mismatch
    for field in arrow.schema:
        want = _ARROW_TO_SPARK.get(str(field.type), str(field.type))
        if spark_dtypes.get(field.name) != want:
            failures.append(
                f"dtype {field.name}: spark={spark_dtypes.get(field.name)} "
                f"duckdb={field.type}"
            )
    if len(s) != len(o):
        return failures + [f"rows spark={len(s)} duckdb={len(o)}"]
    if list(s.columns) != list(o.columns):
        return failures + [f"columns spark={list(s.columns)} duckdb={list(o.columns)}"]
    for c in s.columns:
        sc, oc = s[c], o[c]
        if str(sc.dtype).startswith("float") or str(oc.dtype).startswith("float"):
            same = np.allclose(
                pd.to_numeric(sc), pd.to_numeric(oc), rtol=0, atol=1e-9, equal_nan=True
            )
        else:
            same = sc.astype(str).equals(oc.astype(str))
        if not same:
            failures.append(f"value mismatch in column {c}\n{s.compare(o).head(10)}")
            break
    return failures


def main(names: list[str]) -> int:
    import __spark_entry__ as entry
    from test_flink_spark.session import get_spark

    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = connect()
    names = names or list(entry.queries())
    failed = []
    for name in names:
        try:
            failures = check_query(spark, con, name)
        except Exception as e:  # noqa: BLE001 - an error fails the query
            failures = [f"{type(e).__name__}: {e}"]
        if failures:
            failed.append(name)
            for f in failures:
                print(f"FAIL  {name}: {f}")
        else:
            print(f"OK    {name}")
    print(
        f"\n{len(names) - len(failed)} OK, {len(failed)} failures"
        + (f": {failed}" if failed else "")
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
