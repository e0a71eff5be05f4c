"""Bucketed-table layout: the co-located-join storage strategy.

A join between two large fact tables (lineitem ⨝ orders at 100 TB) is
normally TWO full shuffles — every row of both sides crosses the network
on the join key.  Writing both tables bucketed by that key with the same
bucket count makes the join a zero-exchange sort-merge: each task reads
bucket i of both sides, already co-partitioned by ``hash(key) % n``.
At scale this converts the single most expensive operation a warehouse
runs into a local merge — the shuffle is paid ONCE at write time and
amortized over every subsequent join, which is why every serious lakehouse
layout buckets (or hash-clusters) its fact tables on their join keys.

Spark specifics honored here:

- ``bucketBy`` requires ``saveAsTable`` (the bucket spec lives in the
  catalog, not the parquet footers); we pass an explicit ``path`` so the
  data lands in a caller-owned directory and the in-memory catalog entry
  is just metadata.
- Both sides must have the SAME bucket count, and
  ``spark.sql.sources.bucketing.enabled`` must be on (default) — then the
  scan reports ``Bucketed: true`` and the planner drops both Exchanges.
- ``sortBy`` on the same key additionally lets the merge skip its local
  sort (SortMergeJoin reads pre-sorted bucket files).

The plan-shape guarantee (no Exchange feeding the join, bucketed scans)
is pinned by ``tests/test_joins.py::test_bucketed_join_is_shuffle_free``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..session import Memo


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Write ``df`` as a bucketed (and bucket-sorted) parquet table."""
    if path is None:
        path = os.path.join(tempfile.gettempdir(), "spark_graft_bucketed", table)
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)


def _drop_tables(entry: tuple) -> None:
    spark, base = entry
    if spark.sparkContext._jsc is not None:  # a stopped session has no catalog
        for t in ("li_bucketed", "orders_bucketed"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(base, ignore_errors=True)


# one bucketed copy of (lineitem, orders) per input — the write-once/
# join-many amortization this layout exists for; a new input drops the
# old copy's tables and files
_BUCKETED_CACHE = Memo(drop=_drop_tables)


def bucketed_lineitem_orders(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Return (lineitem, orders) read from bucketed tables co-partitioned
    on the order key, writing them on first use per input."""
    from ..schemas import load_table

    li, orders = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")

    def write() -> tuple:
        base = tempfile.mkdtemp(prefix="spark_graft_bucketed-")
        atexit.register(shutil.rmtree, base, True)  # the entry live at exit
        write_bucketed(li, "li_bucketed", "l_orderkey", n_buckets,
                       path=os.path.join(base, "li_bucketed"))
        write_bucketed(orders, "orders_bucketed", "o_orderkey", n_buckets,
                       path=os.path.join(base, "orders_bucketed"))
        return spark, base

    _BUCKETED_CACHE.get(spark, [li, orders], n_buckets, write)
    return spark.table("li_bucketed"), spark.table("orders_bucketed")
