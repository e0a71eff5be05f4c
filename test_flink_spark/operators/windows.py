"""Event-time window aggregation (SURVEY.md §2.5: K1/K2, WIN1/WIN2, A1/A3).

Reference semantics:
    WIN1  tumbling 30 s            HotMediaTrack.java:89  .timeWindow(Time.seconds(30))
    WIN2  sliding 1 h / 5 min      HotItemAnalysis.java:105 .timeWindow(hours(1), minutes(5))
    A1    incremental count        HotMediaTrack.java:148-169; HotItemAnalysis.java:116-136
    A3    key + window.end decoration  HotMediaTrack.java:134-146; HotItemAnalysis.java:162-171

Spark-first mapping: ``groupBy(window(ts, size[, slide]), *keys).agg(...)``.
Flink's AggregateFunction add/merge algebra IS Spark's partial+final
aggregation — HashAggregateExec does the map-side combine before the shuffle,
so per-(key,window) state is O(1) exactly like the reference's Long
accumulator.  The window-result "decoration" (A3) is a free projection of the
``window.end`` struct field.

Scale notes: one shuffle on (window, keys); sliding windows multiply rows by
size/slide (12× here) *before* the partial agg, but the partial agg collapses
them map-side, so shuffle volume stays O(distinct keys × windows), not
O(events × 12).  Works identically on a streaming DataFrame with
``withWatermark`` applied upstream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    size: str,
    slide: str | None = None,
    window_end_as: str = "window_end",
    end_as_millis: bool = True,
) -> DataFrame:
    """Event-time windowed aggregation with the window end projected out.

    ``end_as_millis`` emits the window end as epoch-millis BIGINT (matching
    the reference's ``windowEnd Long`` — domain/ItemViewCount.java:18 — and
    timezone-proof for differential testing); otherwise TimestampType.
    """
    win = F.window(F.col(ts_col), size, slide) if slide else F.window(F.col(ts_col), size)
    grouped = df.groupBy(win.alias("window"), *[F.col(k) for k in keys]).agg(*aggs)
    end = F.col("window.end")
    end = F.unix_millis(end).alias(window_end_as) if end_as_millis else end.alias(window_end_as)
    return grouped.select(*[F.col(k) for k in keys], end, *[F.col(c) for c in grouped.columns if c not in ("window", *keys)])


def tumbling_count(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    size: str = "30 seconds",
    count_as: str = "cnt",
) -> DataFrame:
    """WIN1+A1+A3: count per key per tumbling window.

    Batch/stream-agnostic replica of the HotMediaTrack aggregation
    (HotMediaTrack.java:88-90): keyBy(appid, type) → 30 s tumbling → count.
    """
    return windowed_agg(df, ts_col, keys, [F.count(F.lit(1)).alias(count_as)], size)


def sliding_count(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    size: str = "1 hour",
    slide: str = "5 minutes",
    count_as: str = "cnt",
) -> DataFrame:
    """WIN2+A1+A3: count per key per sliding window.

    Replica of the HotItemAnalysis aggregation (HotItemAnalysis.java:104-106):
    keyBy(itemId) → 1 h / 5 min sliding → count.  Native sliding
    ``window()``: one shuffle; map-side partial aggregation bounds shuffle
    volume to distinct (key, window) groups.
    """
    return windowed_agg(df, ts_col, keys, [F.count(F.lit(1)).alias(count_as)], size, slide)


def session_count(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    gap: str = "10 minutes",
    count_as: str = "cnt",
) -> DataFrame:
    """Session windows (gap-based).  Absent from the reference (SURVEY.md
    §2.10) — included so the engine surface is a superset; Spark's
    ``session_window`` is free in batch and streaming.

    Emits session start as epoch millis (the end depends on gap semantics and
    is engine-specific; start = first event is unambiguous for testing).
    """
    win = F.session_window(F.col(ts_col), gap)
    out = df.groupBy(win.alias("session"), *[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias(count_as)
    )
    return out.select(
        *[F.col(k) for k in keys],
        F.unix_millis(F.col("session.start")).alias("session_start"),
        F.col(count_as),
    )
