"""Streaming incremental table-statistics maintenance — the optimizer-
services family's streaming twin.

``stats_merge_rollup`` (plans/advanced.py) proves the catalog's stats
are mergeable along every axis a 100 TB incremental ANALYZE needs:
HLL registers fold by max (NDV), min/max fold exactly, null counts fold
by sum.  This module runs that fold continuously: each micro-batch
publishes its partial column stats and the catalog snapshot absorbs
them, so "stats over everything ingested so far" is served without ever
re-scanning history — the incremental-ANALYZE loop a warehouse runs on
its ingestion path.

State is ONE snapshot per batch, committed as batch N of
``{state_dir}/stats`` (sinks/files.py's commit protocol), holding both
stat kinds in a single uniformly-foldable table:

    column STRING, reg LONG, m_rank LONG, min_v LONG, max_v LONG, n_nulls LONG

* register rows: ``reg >= 0``, ``m_rank`` set, scalars NULL;
* one scalar row per column: ``reg = -1``, ``m_rank`` NULL.

One ``groupBy(column, reg)`` with ``max(m_rank), min(min_v), max(max_v),
sum(n_nulls)`` folds BOTH kinds in a single bounded shuffle (the table
is ≤ |columns| × 257 rows regardless of data size), so the per-batch
cost is O(batch rows) map-side + a constant-size aggregate — the same
scaling argument as sketch_ingest.

Differential (tests/test_streaming.py): after every batch, the read-side
:func:`stats` equals ``collect``-style direct stats over the UNION of
all batches computed through the same estimator — fold-vs-direct parity,
the stats_merge_rollup claim held under streaming maintenance; plus
retry-idempotence and the orphan-crash resume shared with the other
snapshot twins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import sketch as sk
from ..session import pin, scoped
from ..sinks.files import commit, fold_target, latest, read_batch

_STATS_SCHEMA = (
    "column STRING, reg LONG, m_rank LONG, min_v LONG, max_v LONG, n_nulls LONG"
)


def _stacked_values(df: DataFrame, columns: dict[str, str]) -> DataFrame:
    """``(column, v)`` rows: each tracked column's SQL expression (must
    yield an integer — cents / epoch-millis per repo convention),
    stacked so ONE pass computes every column's partials."""
    out = None
    for name, expr in columns.items():
        leg = df.select(
            F.lit(name).alias("column"), F.expr(expr).cast("long").alias("v")
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def _partials(df: DataFrame, columns: dict[str, str]) -> DataFrame:
    """One micro-batch's foldable stat rows (register rows + the reg=-1
    scalar row per column)."""
    vals = _stacked_values(df, columns)
    # NDV is over non-null values (count(distinct) semantics); nulls are
    # accounted by the scalar leg's n_nulls
    regs = sk.hll_registers(vals.filter(F.col("v").isNotNull()), "v", ["column"]).select(
        "column",
        "reg",
        "m_rank",
        F.lit(None).cast("long").alias("min_v"),
        F.lit(None).cast("long").alias("max_v"),
        F.lit(None).cast("long").alias("n_nulls"),
    )
    scalars = vals.groupBy("column").agg(
        F.lit(-1).cast("long").alias("reg"),
        F.lit(None).cast("long").alias("m_rank"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.expr("count_if(v is null)").cast("long").alias("n_nulls"),
    )
    return regs.unionByName(scalars)


def _fold(a: DataFrame, b: DataFrame) -> DataFrame:
    return (
        a.unionByName(b)
        .groupBy("column", "reg")
        .agg(
            F.max("m_rank").alias("m_rank"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.sum("n_nulls").cast("long").alias("n_nulls"),
        )
    )


def stats_ingest_batch(
    batch_df: DataFrame,
    state_dir: str,
    columns: dict[str, str],
    batch_id: int | None = None,
) -> DataFrame:
    """Fold ONE micro-batch's partial column stats into the persisted
    snapshot; returns the post-batch foldable table.  Callable directly
    for batch backfill or through :func:`streaming_stats_ingest`."""
    spark = batch_df.sparkSession
    root = os.path.join(state_dir, "stats")
    prior_id, version = fold_target(root, batch_id)
    prior = read_batch(spark, root, prior_id, _STATS_SCHEMA)
    merged = pin(_fold(prior, _partials(batch_df, columns)))
    commit(merged, root, version)
    return merged


def stats(spark, state_dir: str) -> DataFrame:
    """Read side: the catalog view of the LATEST snapshot —
    ``(column, ndv_est, min_v, max_v, n_nulls)``, NDV through the shared
    HLL estimator so streaming stats are bit-equal to the batch path."""
    root = os.path.join(state_dir, "stats")
    b = latest(root)
    if b is None:
        raise ValueError(f"no stats snapshot under {state_dir}")
    snap = read_batch(spark, root, b)
    ndv = sk.hll_fold_registers(
        snap.filter(F.col("reg") >= 0).select("column", "reg", "m_rank"),
        ["column"],
    ).select("column", F.col("hll_est").cast("long").alias("ndv_est"))
    scalars = snap.filter(F.col("reg") == -1).select(
        "column", "min_v", "max_v", "n_nulls"
    )
    return scalars.join(ndv, "column", "left").select(
        "column",
        F.coalesce("ndv_est", F.lit(0)).cast("long").alias("ndv_est"),
        "min_v",
        "max_v",
        "n_nulls",
    )


def streaming_stats_ingest(
    rows: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    columns: dict[str, str],
    query_name: str = "stats_ingest",
) -> StreamingQuery:
    """Run :func:`stats_ingest_batch` over a STREAM via ``foreachBatch``
    — after every micro-batch, batch ``batch_id`` of
    ``{state_dir}/stats`` serves column stats over every row seen so far."""
    return (
        rows.writeStream.foreachBatch(scoped(stats_ingest_batch, state_dir, columns))
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
