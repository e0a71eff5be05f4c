"""Window operator unit tests (SURVEY.md §5.2 item 1): hand-computed boundary
cases — events exactly at window edges, sliding multiplicity, epoch-unit
normalization (FIXTURES.md §4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from test_flink_spark.operators.windows import session_count, sliding_count, tumbling_count


def _events_df(spark, rows):
    df = spark.createDataFrame(rows, "key STRING, t BIGINT")
    return df.select("key", F.timestamp_millis(F.col("t")).alias("ts"))


def test_tumbling_boundary(spark):
    # 30 s windows: t=29_999 → window (0,30000]; t=30_000 starts the next —
    # boundary event belongs to the window it OPENS (end-exclusive start).
    df = _events_df(spark, [("a", 0), ("a", 29_999), ("a", 30_000)])
    out = tumbling_count(df, "ts", ["key"], "30 seconds")
    got = {(r["window_end"], r["cnt"]) for r in out.collect()}
    assert got == {(30_000, 2), (60_000, 1)}


def test_sliding_multiplicity(spark):
    # 1 h / 5 min: every event appears in exactly size/slide = 12 windows.
    df = _events_df(spark, [("a", 3_600_000)])
    out = sliding_count(df, "ts", ["key"], "1 hour", "5 minutes")
    rows = out.collect()
    assert len(rows) == 12
    ends = sorted(r["window_end"] for r in rows)
    # smallest window containing t has end = floor(t/slide)*slide + slide
    assert ends[0] == 3_600_000 + 300_000
    assert ends[-1] == 3_600_000 + 3_600_000


def test_sliding_counts_accumulate(spark):
    # t=0 and t=100_000 fall in the SAME 12 windows (both inside the first
    # slide bucket): ends 300_000 … 3_600_000, step 300_000.
    df = _events_df(spark, [("a", 0), ("a", 100_000), ("b", 100_000)])
    out = sliding_count(df, "ts", ["key"], "1 hour", "5 minutes")
    by = {(r["key"], r["window_end"]): r["cnt"] for r in out.collect()}
    ends = [300_000 * k for k in range(1, 13)]
    assert all(by[("a", e)] == 2 for e in ends)
    assert all(by[("b", e)] == 1 for e in ends)
    assert len(by) == 24


def test_session_gap_semantics(spark):
    # gap = 10 s: diff < gap merges, diff == gap splits (strict).
    df = _events_df(spark, [("a", 0), ("a", 9_999), ("a", 19_999), ("a", 30_000)])
    out = session_count(df, "ts", ["key"], gap="10 seconds")
    got = {(r["session_start"], r["cnt"]) for r in out.collect()}
    # 0 → extends to 9_999 → extends to 19_999; 30_000 − 19_999 > 10 s? no:
    # 10_001 ≥ 10_000 → new session.
    assert got == {(0, 3), (30_000, 1)}
