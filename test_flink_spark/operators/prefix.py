"""Distributed prefix sums — the scale-correct replacement for the
single-partition cumulative window.

A global running sum is the canonical Spark anti-pattern: Window with no
partitionBy moves ALL rows through one task (this repo's plan gate bans
it).  The classic fix, packaged here once: range-repartition on the total
order, per-partition running sums keyed by ``spark_partition_id()``, and
the per-partition totals — a |partitions|-row driver collect, bounded by
cluster configuration, never by data — folded into a literal offset map.
``cum_i = offset[pid] + local_prefix_i``.

Determinism note (learned at sf0.1, parts_pareto_abc): the range
partitioner SAMPLES its boundaries per execution, so the relation must be
pinned with an eager ``localCheckpoint`` — the offsets job and every
downstream consumer must see the SAME pid assignment.  The cumulative
values themselves are boundary-independent (any boundary placement that
respects the total order yields the same prefix sums), but the offset map
is keyed by pid, so the pids must not move between jobs.

Consumers: parts_pareto_abc (ABC revenue classes), events_user_gini
(Lorenz-curve Gini coefficient).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import pin


def _range_pinned(df: DataFrame, order: Sequence[Column], n_partitions: int) -> DataFrame:
    """``df`` range-partitioned on ``order`` with its partition id as
    ``__pid``, pinned so every job sees the same pid assignment."""
    ranged = df.repartitionByRange(n_partitions, *order)
    return pin(ranged.withColumn("__pid", F.spark_partition_id()))


def partitioned_prefix_sum(
    df: DataFrame,
    value_col: str,
    order: Sequence[Column],
    n_partitions: int = 16,
) -> tuple[DataFrame, int]:
    """Return ``(df + [__cum, __rank], grand_total)`` where ``__cum`` is
    the inclusive running sum of ``value_col`` and ``__rank`` the 1-based
    position, both over the TOTAL order given by ``order`` (must be a
    strict total order — include a unique tiebreak column).

    One range exchange + one bounded collect; no single-partition stage.
    The returned DataFrame is localCheckpoint-pinned (see module
    docstring); ``grand_total`` is a plain int for literal reuse.
    """
    ranged = _range_pinned(df, order, n_partitions)
    totals = {
        r["__pid"]: (r["t"], r["n"])
        for r in ranged.groupBy("__pid")
        .agg(F.sum(value_col).alias("t"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    grand_total = int(sum(t for t, _ in totals.values()))
    sum_offsets, cnt_offsets = {}, {}
    acc_s, acc_n = 0, 0
    for pid in sorted(totals):
        sum_offsets[pid] = acc_s
        cnt_offsets[pid] = acc_n
        acc_s += int(totals[pid][0])
        acc_n += int(totals[pid][1])
    sum_map = F.create_map(
        *[F.lit(v) for p in sorted(sum_offsets) for v in (p, sum_offsets[p])]
    )
    cnt_map = F.create_map(
        *[F.lit(v) for p in sorted(cnt_offsets) for v in (p, cnt_offsets[p])]
    )
    w_local = Window.partitionBy("__pid").orderBy(*order)
    out = ranged.withColumn(
        "__cum", sum_map[F.col("__pid")] + F.sum(value_col).over(w_local)
    ).withColumn(
        "__rank",
        (cnt_map[F.col("__pid")] + F.row_number().over(w_local)).cast("long"),
    ).drop("__pid")
    return out, grand_total


def partitioned_prefix_max(
    df: DataFrame,
    value_col: str,
    order: Sequence[Column],
    n_partitions: int = 16,
) -> DataFrame:
    """Running MAX of ``value_col`` over the TOTAL order given by
    ``order`` (a strict total order — include a unique tiebreak), as
    ``__cummax`` — the high-watermark shape (``cum_i = greatest(max of
    all earlier partitions, local running max)``).

    Same skeleton and same determinism contract as
    ``partitioned_prefix_sum``: one range exchange, an eager
    localCheckpoint pinning the pid assignment, a |partitions|-row
    collect folded into a literal offset map, and a per-pid window —
    never a single-partition global window.  Offsets are the EXCLUSIVE
    prefix max of the per-partition maxima; the first partition gets a
    NULL offset (greatest() ignores it)."""
    ranged = _range_pinned(df, order, n_partitions)
    maxima = {
        r["__pid"]: r["m"]
        for r in ranged.groupBy("__pid")
        .agg(F.max(value_col).alias("m"))
        .collect()
    }
    offsets = {}
    running = None
    for pid in sorted(maxima):
        offsets[pid] = running
        if maxima[pid] is not None and (
            running is None or maxima[pid] > running
        ):
            running = maxima[pid]
    vtype = df.schema[value_col].dataType.simpleString()
    off_map = F.create_map(
        *[
            c
            for p in sorted(offsets)
            for c in (F.lit(p), F.lit(offsets[p]).cast(vtype))
        ]
    )
    w_local = Window.partitionBy("__pid").orderBy(*order)
    # greatest() ignores nulls, so the first partition's null offset
    # degrades to the local running max alone.
    return ranged.withColumn(
        "__cummax",
        F.greatest(off_map[F.col("__pid")], F.max(value_col).over(w_local)),
    ).drop("__pid")


def partitioned_prefix_sums(
    df: DataFrame,
    value_cols: Sequence[str],
    order: Sequence[Column],
    n_partitions: int = 16,
) -> tuple[DataFrame, dict[str, int]]:
    """Multi-column sibling of :func:`partitioned_prefix_sum`: running
    sums for EVERY column in ``value_cols`` over one shared total order,
    in ONE range exchange and ONE bounded offsets collect (calling the
    single-column form k times would pay k checkpointed exchanges and,
    worse, k independent boundary samplings).  Adds ``__cum_<col>`` per
    value column plus ``__rank``; returns ``(df, grand_totals)`` with
    one total per column.  Consumer: events_ks_drift_test (two-sample
    CDFs over the merged support)."""
    ranged = _range_pinned(df, order, n_partitions)
    aggs = [F.sum(c).alias(f"t_{c}") for c in value_cols] + [
        F.count(F.lit(1)).alias("__n")
    ]
    rows = ranged.groupBy("__pid").agg(*aggs).collect()
    totals = {r["__pid"]: r for r in rows}
    grand = {c: int(sum(int(r[f"t_{c}"] or 0) for r in rows)) for c in value_cols}
    offsets = {c: {} for c in value_cols}
    cnt_offsets = {}
    acc = {c: 0 for c in value_cols}
    acc_n = 0
    for pid in sorted(totals):
        for c in value_cols:
            offsets[c][pid] = acc[c]
            acc[c] += int(totals[pid][f"t_{c}"] or 0)
        cnt_offsets[pid] = acc_n
        acc_n += int(totals[pid]["__n"])
    w_local = Window.partitionBy("__pid").orderBy(*order)
    out = ranged
    for c in value_cols:
        m = F.create_map(
            *[F.lit(v) for p in sorted(offsets[c]) for v in (p, offsets[c][p])]
        )
        out = out.withColumn(
            f"__cum_{c}", m[F.col("__pid")] + F.sum(c).over(w_local)
        )
    cnt_map = F.create_map(
        *[F.lit(v) for p in sorted(cnt_offsets) for v in (p, cnt_offsets[p])]
    )
    out = out.withColumn(
        "__rank",
        (cnt_map[F.col("__pid")] + F.row_number().over(w_local)).cast("long"),
    ).drop("__pid")
    return out, grand
