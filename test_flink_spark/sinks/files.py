"""Batch file sinks: parquet/csv/json writers with the partitioning knobs
that matter at 100 TB (partitionBy for pruning, maxRecordsPerFile against
giant files, explicit compression)."""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame


def _swap_publish(tmp: str, path: str) -> None:
    """Publish ``tmp`` at ``path`` via a TWO-RENAME swap.

    ``rmtree(path); rename(tmp, path)`` is NOT atomic: rmtree is O(files)
    metadata ops, so readers racing the swap would see a *missing* dataset
    for its whole duration, and a crash inside the window strands the new
    data in the tmp dir with the published path gone.  The two-rename form
    shrinks the no-dataset window to two rename() metadata ops and makes
    crash recovery self-describing: if ``path`` is missing, exactly one of
    ``tmp`` / ``path.__old`` holds a complete dataset to re-rename.  Still
    not a transactional commit — that needs a table format (Delta/Iceberg
    snapshot swap) or a symlink/manifest indirection; this is the honest
    local-FS approximation.
    """
    import os
    import shutil

    old = f"{path}.__old"
    if os.path.exists(old):  # debris from a crashed prior swap
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
    compression: str = "zstd",
) -> None:
    """Parquet writer.  ``partition_by`` low-cardinality columns become
    directory partitions → free partition pruning for every downstream scan;
    ``maxRecordsPerFile`` bounds file size so a single task never writes an
    unsplittable monster."""
    w = (
        df.write.mode(mode)
        .option("compression", compression)
        .option("maxRecordsPerFile", str(max_records_per_file))
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """ORC writer (the warehouse-interchange alternative to parquet; same
    partition-pruning layout semantics)."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def start_parquet_matview(
    df,
    path: str,
    key_cols: Sequence[str],
    checkpoint: str,
    query_name: str = "matview",
):
    """Streaming materialized view over parquet: maintain a keyed snapshot
    table that always holds the LATEST aggregate row per key — the
    file-based form of the JDBC staged upsert (same merge semantics, no
    database).  ``df`` must be an UPDATE-mode streaming aggregation whose
    grouping keys are ``key_cols``; every micro-batch carries the keys
    whose aggregates changed, and the view converges to exactly the batch
    aggregation over all data seen (pinned by test).

    Per batch: anti-join the current snapshot against the batch's keys,
    union the fresh rows, write to a temp dir, swap.  The swap is the
    local-FS stand-in for a transactional table-format commit (Delta/
    Iceberg snapshot swap); merge idempotence makes micro-batch REPLAY
    safe (at-least-once delivery + idempotent upsert = effectively-once
    view contents), which is the actual exactly-once story of every
    foreachBatch sink.  Scale: the exchange is one join keyed on the view
    key per batch — the snapshot is aggregate-sized, never event-sized."""
    import os

    def _apply(batch_df, batch_id):
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(list(key_cols))
        if os.path.exists(path):
            cur = spark.read.parquet(path)
            merged = cur.join(
                batch.select(*key_cols), list(key_cols), "left_anti"
            ).unionByName(batch)
        else:
            merged = batch
        tmp = f"{path}.__tmp_{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        _swap_publish(tmp, path)

    return (
        df.writeStream.outputMode("update")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_apply)
        .start()
    )


def compact_parquet(
    spark,
    path: str,
    target_records_per_file: int = 5_000_000,
    compression: str = "zstd",
    partition_by: Sequence[str] = (),
) -> tuple[int, int]:
    """Compact a small-files parquet directory in place: rewrite the data
    into ceil(rows / target_records_per_file) files and swap.  Returns
    (files_before, files_after).

    The 100 TB operational chore: streaming sinks and fine-grained
    ingest partitions leave thousands of KB-sized files per directory,
    and every downstream scan then pays one task + one open per file
    (plus NameNode/listing pressure).  Rewrite is ONE round-robin
    repartition to the target file count — no sort, no skew sensitivity
    — then the same write-and-swap used by the streaming matview (the
    local-FS stand-in for a table-format transactional rewrite; on
    Delta/Iceberg this is OPTIMIZE/rewriteDataFiles).  Readers racing
    the swap re-list on retry; the two-rename swap (_swap_publish)
    bounds the not-found window to two rename() metadata ops — see its
    docstring for the honest non-transactional caveat.

    Row-group sizing note: ``target_records_per_file`` bounds records,
    not bytes — callers with wide rows should size it from a sampled
    row-byte estimate the way multimodal.byte_aware_repartition does.

    Directory-partitioned tables: pass the SAME ``partition_by`` used at
    write time — the rewrite then repartitions on those columns (keeping
    each output task single-partition so files don't multiply across
    directories) and re-applies the layout.  Omitting it on a
    partitioned root would flatten the layout and lose pruning.
    """
    import math
    import os

    files_before = sum(
        1
        for root, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )
    cur = spark.read.parquet(path)
    n_rows = cur.count()
    n_files = max(1, math.ceil(n_rows / target_records_per_file))
    tmp = f"{path}.__compact_tmp"
    if partition_by:
        from pyspark.sql import functions as F

        w = (
            cur.repartition(*[F.col(c) for c in partition_by])
            .write.mode("overwrite")
            .option("compression", compression)
            .option("maxRecordsPerFile", str(target_records_per_file))
            .partitionBy(*partition_by)
        )
    else:
        w = (
            cur.repartition(n_files)
            .write.mode("overwrite")
            .option("compression", compression)
        )
    w.parquet(tmp)
    _swap_publish(tmp, path)
    files_after = sum(
        1
        for root, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )
    return files_before, files_after


def apply_deletes(
    spark,
    path: str,
    tombstones: "DataFrame",
    key_cols: Sequence[str],
    compression: str = "zstd",
    partition_by: Sequence[str] = (),
) -> tuple[int, int]:
    """Propagate deletions into a parquet dataset: rewrite ``path`` minus
    every row whose ``key_cols`` tuple appears in ``tombstones``, with the
    compaction/matview write-and-swap.  Returns (rows_before, rows_after).

    The GDPR/right-to-be-forgotten primitive: deletion arrives as a keyed
    tombstone list, the dataset is rewritten with ONE left-anti hash join
    (tombstone side broadcast when small — Catalyst/AQE decides), and the
    swap publishes atomically.  On a table format this is a DELETE
    producing delete vectors + a later rewrite; the eager rewrite here is
    the local-FS equivalent with the same reader-visible contract.  At
    100 TB, partition-prune first: callers holding partition-scoped
    tombstones should rewrite only affected partitions — this helper
    rewrites the whole directory it is pointed at, so point it at the
    partition directories, not the table root, when keys carry the
    partition column.  For a partitioned root, pass ``partition_by`` to
    re-apply the directory layout on rewrite."""

    cur = spark.read.parquet(path)
    rows_before = cur.count()
    kept = cur.join(
        tombstones.select(*key_cols).dropDuplicates(), list(key_cols), "left_anti"
    )
    tmp = f"{path}.__delete_tmp"
    w = kept.write.mode("overwrite").option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    _swap_publish(tmp, path)
    rows_after = spark.read.parquet(path).count()
    return rows_before, rows_after


def idempotent_batch_sink(path: str):
    """Exactly-once ``foreachBatch`` parquet sink: effectively-once file
    output under the at-least-once replay foreachBatch delivers after a
    crash (the Structured Streaming docs' own caveat — batchId is the
    documented dedup key).

    Layout: ``path/data/batch-<id>/`` holds each micro-batch's parquet;
    ``path/_committed/batch-<id>`` is a marker created ONLY after the
    data directory is complete and atomically renamed into place.
    A replayed (batchId, data) is detected by its marker and not written
    again (it is still executed, into Spark's ``noop`` sink), so re-running
    a failed batch never duplicates rows; a batch that
    crashed mid-write left only an orphan tmp dir (never read — readers
    go through ``read_committed``).  Write order is the crash-safety
    proof: data rename FIRST, marker create SECOND — every marker
    therefore points at complete data, and incomplete data has no
    marker.

    At scale this is the manifest-commit pattern every table format
    (Iceberg/Delta/Hudi) formalizes; the per-batch directory keeps the
    sink append-only so no reader ever observes a partial file.
    """
    data_root = os.path.join(path, "data")
    commit_root = os.path.join(path, "_committed")
    os.makedirs(data_root, exist_ok=True)
    os.makedirs(commit_root, exist_ok=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(commit_root, f"batch-{batch_id}")
        if os.path.exists(marker):
            # replay of a committed batch: write nothing, but still run it.
            # A stateful upstream (the hot-items window count) commits its
            # state store only when every partition executes; a skipped
            # batch fails with STATE_STORE_COMMIT_VALIDATION_FAILED.
            batch_df.write.format("noop").mode("overwrite").save()
            return
        final = os.path.join(data_root, f"batch-{batch_id}")
        tmp = final + ".__tmp"
        batch_df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):  # crashed between rename and marker
            shutil.rmtree(final)
        os.rename(tmp, final)
        with open(marker, "w") as fh:
            fh.write("")

    return sink


def read_committed(spark, path: str) -> DataFrame:
    """Read ONLY committed batches of an ``idempotent_batch_sink`` dir —
    orphaned tmp/uncommitted data is invisible, so readers always see an
    exactly-once view."""
    commit_root = os.path.join(path, "_committed")
    data_root = os.path.join(path, "data")
    batches = sorted(os.listdir(commit_root)) if os.path.isdir(commit_root) else []
    dirs = [os.path.join(data_root, b) for b in batches]
    if not dirs:
        raise ValueError(f"no committed batches under {path}")
    return spark.read.parquet(*dirs)
