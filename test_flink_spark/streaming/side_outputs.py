"""Flink side outputs, re-expressed Spark-first — one stream split to N
tagged sinks in a single pass.

Flink's ``ctx.output(tag, value)`` lets one ProcessFunction route each
element to the main output and/or any number of side outputs (the
canonical uses: late-data capture, malformed-record quarantine,
severity-tiered alerting).  Spark has no side outputs; a naive port runs
one writeStream per tag, re-reading (and re-shuffling) the source N
times.  The idiomatic twin materializes each micro-batch ONCE
(localCheckpoint — the foreachBatch analogue of Flink keeping the
element in hand) and routes rows to per-tag parquet sinks:

- ``mode='exclusive'`` — each row lands in exactly ONE sink: the first
  route whose predicate matches, else the ``rest`` sink.  This is the
  router shape (quarantine pipelines), and the partition property
  (union of sinks == input, no overlaps) is pinned by test.
- ``mode='multi'`` — each row lands in EVERY matching sink, Flink's
  actual side-output semantics (an element can be tagged any number of
  times); unmatched rows still fall through to ``rest``.

Each tag is a commit root under the output directory, and batch N of
each is committed through sinks/files.py's commit protocol, so a
foreachBatch retry writes nothing twice.

Reference parity: the reference drops non-matching rows on its filters
(HotItemAnalysis.java:103); this is the §2.10 superset that KEEPS them,
tagged — at 100 TB the quarantine sink is how a pipeline debugs the
0.01% it would otherwise silently lose.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin, scoped
from ..sinks.files import commit

REST_TAG = "rest"


def split_batch(
    batch_df: DataFrame,
    out_dir: str,
    batch_id: int,
    routes: Mapping[str, str],
    mode: str = "exclusive",
) -> dict[str, int]:
    """Route ONE micro-batch to per-tag parquet sinks.  ``routes`` maps
    tag -> SQL predicate (evaluated in route-declaration order for
    ``exclusive`` mode).  Returns {tag: rows routed} for observability.
    The batch is materialized once; each route is a filter over the
    checkpointed result, never a re-read of the source."""
    if mode not in ("exclusive", "multi"):
        raise ValueError(f"unknown mode {mode!r}")
    if REST_TAG in routes:
        raise ValueError(f"tag {REST_TAG!r} is reserved for unmatched rows")
    batch = pin(batch_df)
    counts: dict[str, int] = {}
    preds = list(routes.items())
    for i, (tag, pred) in enumerate(preds):
        cond = F.expr(pred)
        if mode == "exclusive":
            for _, earlier in preds[:i]:
                cond = cond & ~F.coalesce(F.expr(earlier), F.lit(False))
        routed = batch.filter(F.coalesce(cond, F.lit(False)))
        commit(routed, os.path.join(out_dir, tag), batch_id)
        counts[tag] = routed.count()
    none_matched = None
    for _, pred in preds:
        m = F.coalesce(F.expr(pred), F.lit(False))
        none_matched = ~m if none_matched is None else none_matched & ~m
    rest = batch.filter(none_matched if none_matched is not None else F.lit(True))
    commit(rest, os.path.join(out_dir, REST_TAG), batch_id)
    counts[REST_TAG] = rest.count()
    return counts


def streaming_side_outputs(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    routes: Mapping[str, str],
    mode: str = "exclusive",
    query_name: str = "side_outputs",
):
    """foreachBatch wiring of :func:`split_batch` over a stream."""
    return (
        stream.writeStream.foreachBatch(
            scoped(split_batch, out_dir, routes=routes, mode=mode)
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
