"""File sinks: batch parquet/csv/json/orc writers, and the one commit
protocol of every ``foreachBatch`` file writer.

A commit root holds ``data/batch-N/`` and a ``_committed/batch-N`` marker
per micro-batch:

1. A batch's data and sidecars are written under a name no reader lists,
   renamed into place, and only then marked.  Readers see marked batches
   only.
2. A marked batch is never rewritten.  Its replay writes nothing, but it
   still executes its input.
3. The fold for batch N reads only marked batches below N.

docs/DESIGN_DECISIONS.md, "Commit protocol", says why and which test
covers which crash point."""

from __future__ import annotations

import json
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
    """Streaming materialized view over parquet: ``path`` is one parquet
    dataset holding the LATEST aggregate row per key, the file form of
    the JDBC staged upsert.  ``df`` must be an UPDATE-mode streaming
    aggregation whose grouping keys are ``key_cols``; every micro-batch
    carries the keys whose aggregates changed, and the view converges to
    the batch aggregation over all data seen (pinned by test).

    Batch N anti-joins the view of the newest marked batch below N
    against its keys, unions the fresh rows and commits the result to
    ``{path}.__batches``.  ``path`` is then a symbolic link to the newest
    marked view, swapped by one rename; the view before it is kept for a
    reader that resolved the old link, older ones are removed."""
    root = f"{path}.__batches"

    def _apply(batch_df, batch_id):
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(list(key_cols))
        prior, _ = fold_target(root, batch_id)
        if prior is not None:
            merged = (
                read_batch(spark, root, prior)
                .join(batch.select(*key_cols), list(key_cols), "left_anti")
                .unionByName(batch)
            )
        else:
            merged = batch
        commit(merged, root, batch_id)
        _publish(path, root)

    return (
        df.writeStream.outputMode("update")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_apply)
        .start()
    )


def _publish(path: str, root: str) -> None:
    """Point the link ``path`` at the newest marked batch of ``root`` and
    remove the marked batches before the one it replaced."""
    ids = marked(root)
    link = f"{path}.__link"
    if os.path.lexists(link):  # debris from a crashed publish
        os.remove(link)
    target = batch_dir(root, ids[-1])
    os.symlink(os.path.relpath(target, os.path.dirname(os.path.abspath(path))), link)
    os.replace(link, path)
    for b in ids[:-2]:
        os.remove(_marker(root, b))
        shutil.rmtree(batch_dir(root, b))


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
    — then a write-and-swap (the local-FS stand-in for a table-format
    transactional rewrite; on Delta/Iceberg this is
    OPTIMIZE/rewriteDataFiles).  Readers racing
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
    compaction's write-and-swap.  Returns (rows_before, rows_after).

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


def batch_dir(root: str, batch_id: int) -> str:
    """Where batch ``batch_id`` of the commit root ``root`` lives."""
    return os.path.join(root, "data", f"batch-{batch_id}")


def _marker(root: str, batch_id: int) -> str:
    return os.path.join(root, "_committed", f"batch-{batch_id}")


def marked(root: str, before: int | None = None) -> list[int]:
    """Marked batch ids of ``root`` in ascending order, only those below
    ``before`` when it is given."""
    try:
        names = os.listdir(os.path.join(root, "_committed"))
    except FileNotFoundError:
        return []
    ids = sorted(int(n.split("-", 1)[1]) for n in names)
    return [b for b in ids if before is None or b < before]


def latest(root: str, before: int | None = None) -> int | None:
    """The newest marked batch of ``root`` (below ``before``), or None."""
    ids = marked(root, before)
    return ids[-1] if ids else None


def fold_target(root: str, batch_id: int | None) -> tuple[int | None, int]:
    """``(prior, batch)`` for a fold that commits to ``root``: the batch
    it writes and the newest marked batch below it, the only one it may
    read (rule 3).  A stream's call writes its own batch id; a direct
    call (backfill, or the retry of one that crashed) writes one past the
    newest marked batch."""
    prior = latest(root, before=batch_id)
    if batch_id is None:
        batch_id = 0 if prior is None else prior + 1
    return prior, batch_id


def commit(
    df: DataFrame,
    root: str,
    batch_id: int,
    sidecars: dict[str, dict] | None = None,
) -> None:
    """Commit ``df`` (and JSON ``sidecars``) as batch ``batch_id`` of
    ``root``.  When that batch is already marked, nothing is written, but
    ``df`` still runs, into Spark's ``noop`` sink: a stateful upstream
    (the hot-items window count) commits its state store only when every
    partition executes, and a skipped batch fails with
    STATE_STORE_COMMIT_VALIDATION_FAILED."""
    marker = _marker(root, batch_id)
    if os.path.exists(marker):
        df.write.format("noop").mode("overwrite").save()
        return
    final = batch_dir(root, batch_id)
    tmp = final + ".__tmp"
    df.write.mode("overwrite").parquet(tmp)
    for name, payload in (sidecars or {}).items():
        with open(os.path.join(tmp, name), "w") as fh:
            json.dump(payload, fh)
    if os.path.exists(final):  # crashed between rename and marker
        shutil.rmtree(final)
    os.rename(tmp, final)
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w"):
        pass


def read_batch(spark, root: str, batch_id: int | None, schema: str = "") -> DataFrame:
    """Batch ``batch_id`` of ``root``; for None, an empty ``schema`` frame."""
    if batch_id is None:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(batch_dir(root, batch_id))


def read_marked(spark, root: str, before: int | None = None) -> DataFrame | None:
    """Every marked batch of ``root`` (below ``before``) as one DataFrame,
    or None when there is none."""
    dirs = [batch_dir(root, b) for b in marked(root, before)]
    return spark.read.parquet(*dirs) if dirs else None


def read_sidecar(root: str, batch_id: int, name: str) -> dict:
    with open(os.path.join(batch_dir(root, batch_id), name)) as fh:
        return json.load(fh)


def idempotent_batch_sink(path: str):
    """Exactly-once ``foreachBatch`` parquet sink: each micro-batch is
    committed as a batch of the root ``path``.  Read it with
    :func:`read_committed`."""
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    os.makedirs(os.path.join(path, "_committed"), exist_ok=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        commit(batch_df, path, batch_id)

    return sink


def read_committed(spark, path: str) -> DataFrame:
    """Every marked batch of an ``idempotent_batch_sink`` root."""
    df = read_marked(spark, path)
    if df is None:
        raise ValueError(f"no committed batches under {path}")
    return df
