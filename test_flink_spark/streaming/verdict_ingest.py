"""Streaming incremental RETENTION VERDICTS — per-micro-batch
maintenance of the dedup pipeline's terminal table.

``corpus_dedup_verdicts`` is the artifact a curation run writes back next
to the corpus: one ``(doc_id, verdict, coverage_bp, is_canonical)`` row
per document, verdict ∈ {drop_exact, drop_dup, trim_spans, keep}.  Batch
recomputes it from scratch; the production ingest loop wants the verdict
snapshot to FOLLOW the corpus as documents arrive — including the
retroactive moves only this table exhibits:

* an arriving partial duplicate ADDS coverage to old docs (keep →
  trim_spans → drop_dup upgrades on documents ingested long ago);
* an arriving anchor can push a hash OVER the df cap, which retroactively
  REMOVES every interval that hash contributed (coverage can go DOWN);
* an arriving exact copy with a smaller doc_id steals canonical status
  (the old copy flips to drop_exact).

Per micro-batch (foreachBatch — the winnowing windows are batch
operators, same argument as cluster_ingest):

1. **Persisted state**: four commit roots under ``state_dir``
   (sinks/files.py's commit protocol), each committing batch N in this
   order: ``anchors`` (the per-batch anchor-context shards
   substring_dedup also uses), ``meta`` ((doc_id, fp, n_tokens) —
   doc-level metadata, tiny next to text), ``intervals`` (DISTINCT
   (doc_id, s, e, h) duplicated-span intervals WITH anchor-hash
   provenance), and ``verdicts`` — the post-batch snapshot.
2. **Pair derivation** — the batch detector's df cap (2 ≤ df ≤ max_df)
   is re-evaluated on the UNION anchor counts; new pairs are (batch
   anchor) × (union anchor) equi-joins on live hashes only.  df only
   GROWS, so a live hash was live when each of its earlier pairs formed
   (old-old pairs were captured when the later anchor arrived) — the
   incremental pair set is exactly the batch detector's.
3. **Interval maintenance** — new verified extensions are unioned in;
   rows whose provenance hash crossed the cap are dropped.  Storing
   provenance per row is what makes the retroactive removal EXACT: a
   span found via two hashes keeps its surviving row when one dies,
   which is precisely the batch detector's answer.
4. **Touched-doc verdict upsert** — only docs with interval deltas,
   batch docs, and docs sharing a fingerprint with a batch doc get
   their verdict recomputed (coverage merge over their intervals,
   canonical flags over accumulated meta); everything else carries
   forward.  State is doc_id → verdict, the upsert the verdict demanded.

At 100 TB the anchor shards and interval state are bucketed tables on
``h`` resp. ``doc_id``, the df counts an incrementally-merged aggregate,
and the verdict snapshot an upserted table (the touched set IS the
delta).  Labels here are on-disk parquet, not the state store: verdicts
are retroactive (see above), which no append-mode stateful operator can
express — the cluster_ingest argument verbatim.

Differential test: tests/test_streaming.py pins snapshot-equality
against operators/span_dedup.py::retention_verdicts over the union after
EVERY batch, on a fixture that exercises all three retroactive moves.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import pin, scoped
from ..sinks.files import commit, fold_target, read_batch, read_marked

_INTERVALS_SCHEMA = "doc_id LONG, s INT, e INT, h LONG"


def verdict_ingest_batch(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int | None = None,
    k: int = 3,
    w: int = 4,
    ext: int = 10,
    max_df: int = 8,
    min_len: int | None = None,
    drop_bp: int = 5000,
    trim_bp: int = 1500,
) -> DataFrame:
    """Fold ONE micro-batch of ``(doc_id, text)`` rows into the persisted
    verdict state; returns (and persists) the post-batch verdict
    snapshot.  Callable directly for batch backfill or through
    :func:`streaming_dedup_verdicts`."""
    from ..operators.dedup import words
    from ..operators.span_dedup import (
        anchor_contexts,
        extend_anchor_pairs,
        merged_interval_length,
    )

    if min_len is None:
        min_len = w + k - 1
    spark = batch_df.sparkSession
    roots = {
        name: os.path.join(state_dir, name)
        for name in ("anchors", "meta", "intervals", "verdicts")
    }
    prior_id, version = fold_target(roots["verdicts"], batch_id)
    new_anch = pin(anchor_contexts(batch_df, "text", "doc_id", k, w, ext))
    new_meta = pin(
        batch_df.select(
            "doc_id",
            F.md5(F.array_join(words(F.col("text")), " ")).alias("fp"),
            F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
        )
    )
    if prior_id is not None:
        prior_anch = read_marked(spark, roots["anchors"], before=version)
        prior_meta = read_marked(spark, roots["meta"], before=version)
        prior_iv = read_batch(spark, roots["intervals"], prior_id)
        prior_verdicts = read_batch(spark, roots["verdicts"], prior_id)
    else:
        prior_anch = spark.createDataFrame([], new_anch.schema)
        prior_meta = spark.createDataFrame([], new_meta.schema)
        prior_iv = spark.createDataFrame([], _INTERVALS_SCHEMA)
        prior_verdicts = None

    union_anch = prior_anch.unionByName(new_anch)
    dfc = union_anch.groupBy("h").agg(F.count(F.lit(1)).alias("df_"))
    live = dfc.filter((F.col("df_") >= 2) & (F.col("df_") <= max_df)).select("h")
    dead = dfc.filter(F.col("df_") > max_df).select("h")

    a = new_anch.join(live, "h").select(
        F.col("doc_id").alias("id_a"),
        "h",
        F.col("pos").alias("pa"),
        F.col("ctx").alias("ca"),
        F.col("off").alias("oa"),
    )
    b = union_anch.join(live, "h").select(
        F.col("doc_id").alias("id_b"),
        "h",
        F.col("pos").alias("pb"),
        F.col("ctx").alias("cb"),
        F.col("off").alias("ob"),
    )
    pairs = a.join(b, "h").filter(F.col("id_a") != F.col("id_b"))
    scored = extend_anchor_pairs(pairs, k, ext, min_len, keep_hash=True)
    new_iv = (
        scored.select(
            F.col("id_a").alias("doc_id"),
            F.col("start_a").cast("int").alias("s"),
            (F.col("start_a") + F.col("len_tokens") - 1).cast("int").alias("e"),
            "h",
        )
        .unionByName(
            scored.select(
                F.col("id_b").alias("doc_id"),
                F.col("start_b").cast("int").alias("s"),
                (F.col("start_b") + F.col("len_tokens") - 1).cast("int").alias("e"),
                "h",
            )
        )
        .distinct()
    )
    removed = prior_iv.join(dead, "h").select("doc_id").distinct()
    # provenance-exact maintenance: drop every row a now-dead hash
    # contributed; a span also reachable through a live hash keeps its
    # surviving row — the batch detector's exact answer
    iv_state = pin(
        prior_iv.join(dead, "h", "left_anti")
        .unionByName(new_iv)
        .distinct()
    )

    union_meta = prior_meta.unionByName(new_meta)
    # retroactive canonical steal: any doc sharing a fingerprint with a
    # batch doc can flip, so the whole fp-group joins the touched set
    fp_touched = union_meta.join(
        new_meta.select("fp").distinct(), "fp"
    ).select("doc_id")
    touched = pin(
        new_meta.select("doc_id")
        .unionByName(new_iv.select("doc_id"))
        .unionByName(removed)
        .unionByName(fp_touched)
        .distinct()
    )

    canon = union_meta.groupBy("fp").agg(F.min("doc_id").alias("canonical_id"))
    flags = (
        union_meta.join(touched, "doc_id")
        .join(canon, "fp")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canon"),
        )
    )
    cov = merged_interval_length(
        iv_state.select("doc_id", "s", "e").distinct().join(touched, "doc_id"),
        "doc_id",
    )
    recomputed = (
        flags.join(cov, "doc_id", "left")
        .withColumn(
            "coverage_bp",
            F.when(
                F.col("n_tokens") > 0,
                F.expr("coalesce(covered_tokens, 0) * 10000 div n_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .select(
            "doc_id",
            F.when(~F.col("is_canon"), F.lit("drop_exact"))
            .when(F.col("coverage_bp") >= drop_bp, F.lit("drop_dup"))
            .when(F.col("coverage_bp") >= trim_bp, F.lit("trim_spans"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
            "coverage_bp",
            F.col("is_canon").cast("long").alias("is_canonical"),
        )
    )
    if prior_verdicts is not None:
        snapshot = prior_verdicts.join(touched, "doc_id", "left_anti").unionByName(
            recomputed
        )
    else:
        snapshot = recomputed
    snapshot = pin(snapshot)

    # the verdicts last: a direct call resumes after the newest of them
    for name, df in (
        ("anchors", new_anch),
        ("meta", new_meta),
        ("intervals", iv_state),
        ("verdicts", snapshot),
    ):
        commit(df, roots[name], version)
    return snapshot


def streaming_dedup_verdicts(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    query_name: str = "verdict_ingest",
    k: int = 3,
    w: int = 4,
    ext: int = 10,
    max_df: int = 8,
    min_len: int | None = None,
    drop_bp: int = 5000,
    trim_bp: int = 1500,
) -> StreamingQuery:
    """Run :func:`verdict_ingest_batch` over a STREAM of ``(doc_id,
    text)`` rows via ``foreachBatch`` — after every micro-batch, batch
    ``batch_id`` of ``{state_dir}/verdicts`` holds retention verdicts
    identical to the batch retention_verdicts over every document seen
    so far."""
    return (
        docs.writeStream.foreachBatch(
            scoped(
                verdict_ingest_batch,
                state_dir,
                k=k,
                w=w,
                ext=ext,
                max_df=max_df,
                min_len=min_len,
                drop_bp=drop_bp,
                trim_bp=trim_bp,
            )
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
