"""Streaming incremental HLL sketch maintenance — the sketch family's
streaming twin (extends the twin roster: minhash_dedup, cluster_ingest,
substring_dedup, verdict_ingest).

The batch operator (operators/sketch.py::hll_registers) already proves
the register table is max-mergeable: union any partitioning of the data
and re-max, and the fold gives bit-identical estimates.  This module is
that property run continuously — the per-(group, register) max-rank
table maintained across micro-batches, which is exactly how a 100 TB
deployment serves "distinct users per type, so far today" without ever
re-scanning history:

1. **Persisted state** — one register snapshot per micro-batch,
   committed as batch N of ``{state_dir}/registers`` (sinks/files.py's
   commit protocol).  The fold for batch N reads the newest committed
   snapshot below N, so a retried batch never double-merges itself (max
   would forgive it anyway — idempotence is the point of HLL — but the
   protocol matches the other ingest twins and keeps the crash-recovery
   story uniform).
2. **Per-batch fold** — compute the batch's register table (bounded:
   |groups| x 256 rows) and max-merge with the prior snapshot.  Work per
   batch is O(batch rows) map-side + a bounded-aggregate shuffle.
3. **Read side** — :func:`estimates` folds any snapshot through the
   shared estimator, so streaming estimates are BIT-EQUAL to the batch
   ``sketch_hll_distinct_users`` output over the union of all batches
   (pinned by the differential test, including the '__all__' rollup).

State is on-disk parquet rather than the state store for the same reason
as cluster_ingest: the snapshot is a TABLE other jobs read (the serving
artifact), not operator-private state.

Reference parity note: generalizes the reference's windowed COUNT
aggregations (HotItemAnalysis.java:126-160) to streaming distinct-count
analytics — the §2.10 superset path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import sketch as sk
from ..session import pin, scoped
from ..sinks.files import commit, fold_target, latest, read_batch

_REG_SCHEMA = "grp STRING, reg LONG, m_rank LONG"


def sketch_ingest_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int | None = None,
    value_col: str = "user_id",
    group_col: str = "event_type",
) -> DataFrame:
    """Fold ONE micro-batch into the persisted HLL register snapshot;
    returns (and persists) the post-batch register table.  Callable
    directly for batch backfill or through :func:`streaming_sketch_ingest`."""
    spark = batch_df.sparkSession
    root = os.path.join(state_dir, "registers")
    prior_id, version = fold_target(root, batch_id)
    prior = read_batch(spark, root, prior_id, _REG_SCHEMA)
    new_regs = sk.hll_registers(batch_df, value_col, [group_col]).withColumnRenamed(
        group_col, "grp"
    )
    merged = pin(
        prior.unionByName(new_regs)
        .groupBy("grp", "reg")
        .agg(F.max("m_rank").alias("m_rank"))
    )
    commit(merged, root, version)
    return merged


def estimates(spark, state_dir: str, with_rollup: bool = True) -> DataFrame:
    """Fold the LATEST register snapshot through the shared estimator:
    ``(grp, registers_used, hll_est)`` rows, plus an '__all__' rollup row
    max-merged from the per-group sketches (never from the raw values)."""
    root = os.path.join(state_dir, "registers")
    b = latest(root)
    if b is None:
        raise ValueError(f"no register snapshot under {state_dir}")
    regs = read_batch(spark, root, b)
    per_group = sk.hll_fold_registers(regs, ["grp"])
    if not with_rollup:
        return per_group
    merged = (
        regs.groupBy("reg")
        .agg(F.max("m_rank").alias("m_rank"))
        .withColumn("grp", F.lit("__all__"))
    )
    return per_group.unionByName(sk.hll_fold_registers(merged, ["grp"]))


def streaming_sketch_ingest(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    query_name: str = "sketch_ingest",
    value_col: str = "user_id",
    group_col: str = "event_type",
) -> StreamingQuery:
    """Run :func:`sketch_ingest_batch` over a STREAM via ``foreachBatch``
    — after every micro-batch, batch ``batch_id`` of
    ``{state_dir}/registers`` holds the register table identical to the
    batch sketch over every row seen so far."""
    return (
        events.writeStream.foreachBatch(
            scoped(
                sketch_ingest_batch, state_dir, value_col=value_col, group_col=group_col
            )
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
