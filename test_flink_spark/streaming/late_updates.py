"""Flink allowed-lateness window UPDATES — a late event re-fires its
(already emitted) window instead of being dropped, up to a lateness
bound; beyond the bound it goes to the late side output.

Flink: ``window(...).allowedLateness(L).sideOutputLateData(tag)`` keeps
window state alive L past the watermark and re-emits an UPDATED result
per late element.  Spark's native streaming aggregation cannot update an
append-mode window after emission; the idiomatic twin is the repo's
versioned-accumulator shape (cluster_ingest / verdict_ingest precedent):

1. Each micro-batch computes a max-event-time high watermark (monotone
   across batches, persisted with the snapshot).
2. Rows are split with streaming/side_outputs.py::split_batch semantics:
   ``on_time_or_late`` (event_time >= watermark - window - L: still
   allowed to create or UPDATE a window) vs the ``rest`` sink (beyond
   allowed lateness — Flink's late side output, captured not dropped).
3. Allowed rows fold into the per-window count table by += upsert,
   committed with its watermark sidecar as batch N of
   ``{state_dir}/windows``; the late rows are batch N of ``late_dir``
   (sinks/files.py's commit protocol).

Differential (pinned in tests/test_streaming.py): after any batch
sequence, the snapshot equals the batch tumbling-window counts over
every row EXCEPT those routed to the late sink — and a late-but-allowed
row demonstrably UPDATES a window emitted two batches earlier, the exact
behavior Spark append-mode cannot express and Flink users rely on.

At 100 TB the snapshot becomes an upserted table keyed by (key, window)
and the += delta is exactly the changed-windows set — the same
touched-rows argument as cluster_ingest's label remap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin, scoped
from ..sinks.files import commit, fold_target, read_batch, read_sidecar

_WIN_SCHEMA = "event_type STRING, win_start LONG, cnt LONG"


def late_update_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int | None = None,
    window_ms: int = 60_000,
    allowed_lateness_ms: int = 120_000,
    late_dir: str | None = None,
) -> DataFrame:
    """Fold ONE micro-batch of ``(event_type, ts_ms)`` rows into the
    per-(type, tumbling window) count snapshot with allowed-lateness
    semantics; rows beyond the bound are written to ``late_dir`` (the
    side output) and excluded from the fold.  Returns the new snapshot."""
    spark = batch_df.sparkSession
    root = os.path.join(state_dir, "windows")
    prior_id, version = fold_target(root, batch_id)
    prior = read_batch(spark, root, prior_id, _WIN_SCHEMA)
    prior_wm = (
        read_sidecar(root, prior_id, "_WATERMARK.json")["watermark_ms"]
        if prior_id is not None
        else -(1 << 62)
    )
    batch = pin(batch_df)
    batch_max = batch.agg(F.max("ts_ms")).collect()[0][0]
    watermark = max(prior_wm, batch_max if batch_max is not None else prior_wm)
    # a window [s, s+W) is still updatable while s + W + L > watermark;
    # equivalently rows with ts in a closed window are allowed iff their
    # window start passes that test.  Boundary convention: this twin
    # still folds at watermark == end + L, whereas Flink's WindowOperator
    # drops once window.maxTimestamp() + L <= watermark, i.e. at
    # end - 1 + L — the twin is deliberately ~1 window-resolution MORE
    # permissive at the exact boundary (a deliberate, pinned divergence;
    # the batch-parity differential encodes THIS cutoff)
    cutoff = watermark - window_ms - allowed_lateness_ms
    win_start = (F.col("ts_ms") / window_ms).cast("long") * window_ms
    tagged = batch.withColumn("win_start", win_start)
    allowed = tagged.filter(F.col("win_start") >= F.lit(cutoff))
    late = tagged.filter(F.col("win_start") < F.lit(cutoff))
    if late_dir is not None:
        commit(late, late_dir, version)
    delta = allowed.groupBy("event_type", "win_start").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    merged = pin(
        prior.unionByName(delta)
        .groupBy("event_type", "win_start")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    commit(merged, root, version, {"_WATERMARK.json": {"watermark_ms": watermark}})
    return merged


def streaming_late_updates(
    events: DataFrame,
    state_dir: str,
    late_dir: str,
    checkpoint_dir: str,
    window_ms: int = 60_000,
    allowed_lateness_ms: int = 120_000,
    query_name: str = "late_updates",
):
    """foreachBatch wiring of :func:`late_update_batch` over a stream of
    ``(event_type, ts_ms)`` rows."""
    return (
        events.writeStream.foreachBatch(
            scoped(
                late_update_batch,
                state_dir,
                window_ms=window_ms,
                allowed_lateness_ms=allowed_lateness_ms,
                late_dir=late_dir,
            )
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
