"""Streaming incremental near-dup CLUSTERING — per-micro-batch cluster
label maintenance on ingest.

``operators/dedup.py::incremental_cluster_merge`` proves one shard can be
folded into existing cluster labels on the condensed graph (O(shard +
touched clusters), corpus text never re-read).  This module is that
operator's streaming composition, the daily-ingest shape run continuously:

1. **Persisted state** — two commit roots under ``state_dir``
   (sinks/files.py's commit protocol): ``shingles`` (one shingle-index
   shard per batch) and ``labels`` (the (doc_id, cluster_id) snapshot
   after batch N).  Batch N commits its shard, then its labels.
2. **Per-batch edge derivation** — arriving docs' shingles equi-join the
   UNION index (prior shards + this batch) on the 60-bit shingle hash,
   exactly ``ngram_jaccard_pairs``'s inverted-index shape restricted to
   pairs with >= 1 batch endpoint; the Jaccard cut replicates the batch
   operator's ``round(j, 4) >= threshold`` so streaming labels are
   BIT-EQUAL to the batch CC, not approximately equal (with
   ``max_doc_freq`` set, bit-equality holds while every shingle's final
   doc frequency stays under the cap — see cluster_ingest_batch's
   docstring for the creation-time-vs-end-state divergence beyond it).
3. **Condensed merge** — ``incremental_cluster_merge`` relabels touched
   clusters only; a batch whose new doc is near BOTH of two existing
   clusters BRIDGES them (the case the differential test pins).

At 100 TB the labels snapshot becomes an upserted table (the remap output
is exactly the touched-rows delta — only ``old_label -> new_label`` rows
change) and the shingle shards a bucketed table on ``h`` so the per-batch
probe is a co-partitioned join; the per-batch work is O(batch + touched
clusters) either way.  State here is on-disk parquet, not the state
store: cluster membership is retroactive (a late bridge rewrites OLD
docs' labels), which no append-mode stateful operator can express — the
same argument as the batch-accumulator streaming twins in
tests/test_streaming.py.

Precondition: a micro-batch never re-delivers a doc_id already ingested
(the checkpointed source guarantees this; re-ingest upserts would need
shingle-shard compaction first).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import pin, scoped
from ..sinks.files import commit, fold_target, read_batch, read_marked

_LABELS_SCHEMA = "doc_id LONG, cluster_id LONG"
_SHINGLE_SCHEMA = "doc_id LONG, h LONG"


def cluster_ingest_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int | None = None,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Fold ONE micro-batch of ``(doc_id, text)`` rows into the persisted
    cluster state; returns (and persists) the post-batch labels table.
    See the module docstring for the shape; callable directly for batch
    backfill or through :func:`streaming_cluster_ingest`.

    ``max_doc_freq`` (default None here; pass
    ``operators.dedup.NGRAM_MAX_DOC_FREQ`` for the production geometry)
    caps the per-batch probe bill: shingles whose CURRENT doc frequency in
    the capped union index exceeds the cap stop generating candidates and
    leave the Jaccard sets.  Per hot shingle the probe join emits
    batch_occurrences x df pairs — linear in df, not df² (one endpoint is
    always the batch), so unlike the batch self-join the uncapped form is
    not quadratic; the cap still bounds a single batch's worst case at
    O(batch x cap).  Streaming-capped semantics are pair-CREATION-time:
    a pair admitted while its shingles were under the cap keeps its
    cluster effect even if the shingle later crosses the cap, whereas the
    capped batch recompute (duplicate_clusters) drops end-state-hot
    shingles retroactively — the two are bit-equal exactly while every
    shingle's final df stays <= cap (the regime the differential tests
    pin), and diverge only on boilerplate-carried pairs beyond it."""
    from ..operators.dedup import incremental_cluster_merge, shingle_hashes

    spark = batch_df.sparkSession
    sh_root = os.path.join(state_dir, "shingles")
    labels_root = os.path.join(state_dir, "labels")
    prior_id, version = fold_target(labels_root, batch_id)
    prior = read_batch(spark, labels_root, prior_id, _LABELS_SCHEMA)
    prior_sh = read_marked(spark, sh_root, before=version)
    if prior_sh is None:
        prior_sh = spark.createDataFrame([], _SHINGLE_SCHEMA)
    new_sh = pin(shingle_hashes(batch_df, "text", "doc_id", n))
    union_sh = prior_sh.unionByName(new_sh)
    if max_doc_freq is not None:
        # current-view stop-shingle cap (see docstring): anti-join against
        # the small HOT set, mirroring ngram_jaccard_pairs' geometry
        freq = union_sh.groupBy("h").agg(F.count(F.lit(1)).alias("df_"))
        hot = pin(freq.filter(F.col("df_") > max_doc_freq).select("h"))
        union_sh = union_sh.join(hot, "h", "left_anti")
    sizes = union_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # inverted-index probe: batch side only on the left, so every
    # candidate pair has >= 1 batch endpoint (incremental_cluster_merge's
    # contract); least/greatest + countDistinct folds the double-counted
    # batch-batch direction
    cand = (
        new_sh.alias("a")
        .join(
            union_sh.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("id_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
            F.col("a.h").alias("h"),
        )
    )
    shared = cand.groupBy("id_a", "id_b").agg(
        F.countDistinct("h").alias("shared")
    )
    # the exact cut ngram_jaccard_pairs ships — streaming labels must be
    # bit-equal to the batch CC, so the edge rule is shared verbatim
    edges = (
        shared.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .filter(
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                4,
            )
            >= threshold
        )
        .select("id_a", "id_b")
    )
    all_nodes = (
        prior.select("doc_id")
        .unionByName(batch_df.select("doc_id"))
        .distinct()
    )
    merged = pin(incremental_cluster_merge(prior, edges, all_nodes))
    # shard first, labels second: a direct call resumes at the batch
    # after the newest labels, so labels must never run ahead of a shard
    commit(new_sh, sh_root, version)
    commit(merged, labels_root, version)
    return merged


def streaming_cluster_ingest(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    query_name: str = "cluster_ingest",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> StreamingQuery:
    """Run :func:`cluster_ingest_batch` over a STREAM of ``(doc_id,
    text)`` rows via ``foreachBatch`` — after every micro-batch, batch
    ``batch_id`` of ``{state_dir}/labels`` holds cluster labels identical
    to the batch connected-components over every document seen so far."""
    return (
        docs.writeStream.foreachBatch(
            scoped(
                cluster_ingest_batch,
                state_dir,
                n=n,
                threshold=threshold,
                max_doc_freq=max_doc_freq,
            )
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
