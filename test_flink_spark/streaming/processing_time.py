"""Processing-time tumbling windows — the Flink TimeCharacteristic the
reference imports (HotMediaTrack.java:53 pulls the enum whose
ProcessingTime / IngestionTime members its jobs don't select) and the
one time dimension the engine's event-time surface left unexposed.

Flink's processing-time window assigns each element to a window by the
WALL CLOCK at the moment the operator sees it.  Wall clocks don't
replay, so the twin pins the deterministic ingestion model the batch
query (plans/enterprise.py::events_processing_time_tumbling) replays:

* **stamp = foreachBatch batch_id** — the arrival timestamp is the
  trigger that delivered the element, never ``now()``.  Batch ids are
  stable under checkpoint recovery, so tests (and reprocessing) replay
  bit-identically; in production the trigger cadence IS wall time, so
  the semantics coincide with Flink's up to trigger granularity.
* a processing-time tumbling window spans ``win_batches`` consecutive
  triggers: element from batch B lands in window ``B div win_batches``
  regardless of its event time — late data never reopens anything,
  which is exactly what distinguishes processing-time from the
  watermarked event-time operators (streaming/watermarks.py).

Per micro-batch the fold adds the batch's per-type counts into the
snapshot committed as batch N of ``{state_dir}/ptwin`` (sinks/files.py's
commit protocol).  The
differential test feeds the sf events table in (ts, event_id) arrival
order at _PT_BATCH rows per trigger and pins the final snapshot equal
to the batch query's output — the replay/backfill contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import pin, scoped
from ..sinks.files import commit, fold_target, read_batch

_PTW_SCHEMA = "win_id LONG, event_type STRING, cnt LONG"


def processing_time_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int | None = None,
    win_batches: int = 4,
    type_col: str = "event_type",
) -> DataFrame:
    """Fold ONE micro-batch into the processing-time window counts:
    every row of batch B belongs to window ``B div win_batches`` (stamp
    is the trigger id, not the row's event time).  Returns the new
    snapshot."""
    spark = batch_df.sparkSession
    root = os.path.join(state_dir, "ptwin")
    prior_id, version = fold_target(root, batch_id)
    prior = read_batch(spark, root, prior_id, _PTW_SCHEMA)
    delta = batch_df.groupBy(F.col(type_col).alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).select(
        F.lit(version // win_batches).cast("long").alias("win_id"),
        "event_type",
        "cnt",
    )
    merged = pin(
        prior.unionByName(delta)
        .groupBy("win_id", "event_type")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    commit(merged, root, version)
    return merged


def streaming_processing_time(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    win_batches: int = 4,
    type_col: str = "event_type",
    query_name: str = "processing_time_tumbling",
) -> StreamingQuery:
    """foreachBatch wiring of :func:`processing_time_batch`."""
    return (
        events.writeStream.foreachBatch(
            scoped(
                processing_time_batch,
                state_dir,
                win_batches=win_batches,
                type_col=type_col,
            )
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
