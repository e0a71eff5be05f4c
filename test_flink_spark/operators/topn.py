"""Per-group Top-N (SURVEY.md §2.6 T1, §2.7 O1/O2).

Reference: ``TopNHotItems`` (HotItemAnalysis.java:173-223) — keyed by
windowEnd, buffers rows in ListState, event-time timer at windowEnd+1, sorts
desc by count, cuts at topSize, clears state.

Spark-first: a rank-window is the idiomatic batch/foreachBatch form —
``row_number().over(Window.partitionBy(group).orderBy(desc(metric), tiebreak))``.
It serves both sides of the streaming check: ``pipelines.hot_items``'s
foreachBatch engine ranks each micro-batch's closed windows with it, and
``batch_top_n`` ranks the whole bounded input with it as the oracle
(SURVEY.md §7 phase 3).

Determinism: the reference breaks count ties by arrival order under
parallelism=1 (HotItemAnalysis.java:203, stable sort).  That is not
reproducible on a cluster, so we REQUIRE explicit tie-breaker columns
(FIXTURES.md §4) — ascending item id by default.

Scale: one shuffle on the partition keys.  row_number is evaluated
per-partition after the shuffle with no buffering beyond the sort spill,
which Tungsten handles out-of-core; no driver involvement.  For very hot
groups a pre-aggregation (count per (group, item)) upstream — which all our
call sites do — bounds the sort input to distinct items, not raw events.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_n_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    n: int = 3,
    rank_as: str = "rank",
) -> DataFrame:
    """Keep the top ``n`` rows per group; emits a 1-based ``rank`` column.

    ``order_by`` must be a total order (include tie-breakers) for
    deterministic results on any cluster.
    """
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(*order_by)
    return (
        df.withColumn(rank_as, F.row_number().over(w))
        .filter(F.col(rank_as) <= n)
    )


def top_n_by_count(
    df: DataFrame,
    group_cols: Sequence[str],
    count_col: str,
    tiebreak_cols: Sequence[str],
    n: int = 3,
) -> DataFrame:
    """T1 specialization: rank desc by count, ascending tie-break columns."""
    order = [F.col(count_col).desc()] + [F.col(c).asc() for c in tiebreak_cols]
    return top_n_per_group(df, group_cols, order, n)
