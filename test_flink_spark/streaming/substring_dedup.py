"""Streaming exact-substring dedup — the substring-modality member of the
incremental-ingest family (minhash_dedup.streaming_index_check checks
whole-document near-dups, cluster_ingest maintains cluster labels; this
catches PARTIAL duplication: an arriving doc that embeds a run of tokens
already in the corpus at any alignment).

Per micro-batch (foreachBatch — the per-doc winnowing windows are batch
operators, same argument as cluster_ingest):

1. read the committed anchor shards below N (the ``{state_dir}/anchors``
   commit root, one shard per prior batch), apply the one-sided df cap
   (``operators/span_dedup.py::substring_anchor_index`` semantics —
   production maintains the df counts incrementally instead of
   re-aggregating, noted below);
2. probe: ``substring_check_batch`` — new docs' anchors equi-join the
   index on the anchor hash, bounded exact extension, longest verified
   match per (new doc, corpus doc) — committed as batch N of
   ``{state_dir}/hits``;
3. commit this batch's own anchors as shard N.

Both roots follow sinks/files.py's commit protocol.  At 100 TB the
anchor shards are a bucketed table on ``h`` (the probe is then a
co-partitioned hash join), the df counts an incrementally-merged
aggregate, and hits a streaming sink — the per-batch work is O(batch
anchors + collisions), never a corpus rescan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import pin, scoped
from ..sinks.files import commit, read_marked


def _check_index_params(anchors_dir: str, k: int, w: int, ext: int) -> None:
    """Anchor ctx slices and offsets are baked at index-build time, so a
    probe with different (k, w, ext) silently truncates extensions instead
    of erroring.  The first batch records the parameters in a
    ``_PARAMS.json`` file at the index root; every later batch asserts
    equality."""
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
    raw = read_marked(spark, anchors_dir, before=batch_id)
    new_anch = pin(anchor_contexts(batch_df, "text", "doc_id", k, w, ext))
    if raw is not None:
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
        commit(hits, os.path.join(state_dir, "hits"), batch_id)
    commit(new_anch, anchors_dir, batch_id)


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
    text)`` rows: after each micro-batch, the ``{state_dir}/hits`` root
    holds every (arriving doc, corpus doc) longest-duplicated-substring
    match and the anchor index has grown by the batch's own shard."""
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
