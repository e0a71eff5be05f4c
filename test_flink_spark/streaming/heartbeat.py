"""Streaming heartbeat / dead-man detection: emit an alert when a keyed
stream goes SILENT — the monitoring operator (device offline, pipeline
stalled, feed dropped) whose defining property is that output is driven
by the ABSENCE of data.

The timer shape this adds to the streaming family: the reference's
TopNHotItems fires event-time timers to FLUSH buffered results per
window (our hot-items job gets that from the append-mode window close);
here the timer IS the signal — state holds only the key's last-seen
event time, the timeout is last_seen + gap, and the watermark advancing
past it (driven by OTHER keys' traffic) produces the alert row.  A key
that resumes after alerting starts a fresh vigil (and a new alert can
fire for a later gap — each silence is detected once).

State is one (last_seen_ms,) tuple per live key and is REMOVED on
alert, so the store holds only keys currently under watch: bounded by
the active-key horizon, the heartbeat analogue of
dropDuplicatesWithinWatermark's eviction contract."""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

OUTPUT_SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("last_seen_ms", LongType()),
        StructField("silent_for_ms", LongType()),
    ]
)

STATE_SCHEMA = StructType([StructField("last_seen_ms", LongType())])

_EMPTY = pd.DataFrame(
    {
        "k": pd.Series(dtype="int64"),
        "last_seen_ms": pd.Series(dtype="int64"),
        "silent_for_ms": pd.Series(dtype="int64"),
    }
)


def _watch_func(gap_ms: int):
    def func(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            last = int(state.get[0])
            wm = int(state.getCurrentWatermarkMs())
            state.remove()  # alert once; a resumed key starts a new vigil
            yield pd.DataFrame(
                [(int(key[0]), last, max(wm - last, gap_ms))],
                columns=["k", "last_seen_ms", "silent_for_ms"],
            )
            return
        last = int(state.get[0]) if state.exists else 0
        for pdf in pdfs:
            if len(pdf):
                last = max(last, int(pdf["ts_ms"].max()))
        state.update((last,))
        # never move the deadline backward (late batch carrying older rows)
        state.setTimeoutTimestamp(last + gap_ms)
        yield _EMPTY

    return func


def streaming_heartbeat_gaps(
    df: DataFrame,
    key_col: str = "k",
    ts_col: str = "ts",
    gap_ms: int = 60_000,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Alert stream ``(k, last_seen_ms, silent_for_ms)``: one row per key
    whose event-time silence exceeded ``gap_ms`` (watermark-driven, so
    detection latency follows overall stream progress, as with every
    event-time timer)."""
    keyed = df.withWatermark(ts_col, watermark_delay).select(
        F.col(key_col).cast("long").alias("k"),
        F.col(ts_col),
        F.unix_millis(F.col(ts_col)).alias("ts_ms"),
    )
    return keyed.groupBy("k").applyInPandasWithState(
        _watch_func(gap_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
