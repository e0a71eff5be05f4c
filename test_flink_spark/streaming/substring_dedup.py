"""Streaming exact-substring dedup — the substring-modality member of the
incremental-ingest family (minhash_dedup.streaming_index_check checks
whole-document near-dups, cluster_ingest maintains cluster labels; this
catches PARTIAL duplication: an arriving doc that embeds a run of tokens
already in the corpus at any alignment).

Per micro-batch (foreachBatch — the per-doc winnowing windows are batch
operators, same argument as cluster_ingest):

1. read the persisted anchor shards (``{state_dir}/anchors/batch=N/``,
   written one per prior batch, partition-discovered), apply the
   one-sided df cap (``operators/span_dedup.py::substring_anchor_index``
   semantics — production maintains the df counts incrementally instead
   of re-aggregating, noted below);
2. probe: ``substring_check_batch`` — new docs' anchors equi-join the
   index on the anchor hash, bounded exact extension, longest verified
   match per (new doc, corpus doc) — appended to
   ``{state_dir}/hits/batch=N/``;
3. append this batch's own anchors as a new shard.

All writes are batch-keyed directory overwrites (idempotent under
foreachBatch retries).  At 100 TB the anchor shards are a bucketed table
on ``h`` (the probe is then a co-partitioned hash join), the df counts an
incrementally-merged aggregate, and hits a streaming sink — the per-batch
work is O(batch anchors + collisions), never a corpus rescan.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import pin, scoped


def _check_index_params(anchors_dir: str, k: int, w: int, ext: int) -> None:
    """Anchor ctx slices and offsets are baked at index-build time, so a
    probe with different (k, w, ext) silently truncates extensions instead
    of erroring (r8 ADVICE).  The first batch records the parameters in a
    ``_PARAMS.json`` sidecar (underscore-prefixed: Spark's directory
    listing ignores it); every later batch asserts equality."""
    params = {"k": k, "w": w, "ext": ext}
    path = os.path.join(anchors_dir, "_PARAMS.json")
    if os.path.exists(path):
        with open(path) as fh:
            stored = json.load(fh)
        if stored != params:
            raise ValueError(
                f"anchor index at {anchors_dir} was built with {stored}, "
                f"probed with {params}: (k, w, ext) must match the "
                f"index's build parameters"
            )
    else:
        os.makedirs(anchors_dir, exist_ok=True)
        with open(path, "w") as fh:
            json.dump(params, fh)


def substring_ingest_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    k: int = 3,
    w: int = 4,
    ext: int = 10,
    max_df: int = 8,
    min_len: int | None = None,
) -> None:
    from ..operators.span_dedup import anchor_contexts, substring_check_batch

    spark = batch_df.sparkSession
    anchors_dir = os.path.join(state_dir, "anchors")
    _check_index_params(anchors_dir, k, w, ext)
    have_prior = bool(
        [
            p
            for p in glob.glob(os.path.join(anchors_dir, "batch=*"))
            if int(p.rsplit("=", 1)[1]) < batch_id
        ]
    )
    new_anch = pin(anchor_contexts(batch_df, "text", "doc_id", k, w, ext))
    if have_prior:
        raw = (
            spark.read.parquet(anchors_dir)
            .filter(F.col("batch") < batch_id)
            .drop("batch")
        )
        # one-sided df cap over the accumulated shards (production keeps
        # these counts as an incrementally-merged aggregate)
        keep = (
            raw.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= max_df)
            .select("h")
        )
        hits = substring_check_batch(
            batch_df, raw.join(keep, "h"), k=k, w=w, ext=ext, min_len=min_len
        )
        hits.write.mode("overwrite").parquet(
            os.path.join(state_dir, "hits", f"batch={batch_id}")
        )
    new_anch.write.mode("overwrite").parquet(
        os.path.join(anchors_dir, f"batch={batch_id}")
    )


def streaming_substring_check(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    query_name: str = "substring_ingest",
    k: int = 3,
    w: int = 4,
    ext: int = 10,
    max_df: int = 8,
    min_len: int | None = None,
) -> StreamingQuery:
    """Run :func:`substring_ingest_batch` over a STREAM of ``(doc_id,
    text)`` rows: after each micro-batch, ``{state_dir}/hits/`` holds
    every (arriving doc, corpus doc) longest-duplicated-substring match
    and the anchor index has grown by the batch's own shard."""
    return (
        docs.writeStream.foreachBatch(
            scoped(
                substring_ingest_batch,
                state_dir,
                k=k,
                w=w,
                ext=ext,
                max_df=max_df,
                min_len=min_len,
            )
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
