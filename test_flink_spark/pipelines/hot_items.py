"""HotItemAnalysis pipeline (HotItemAnalysis.java:61-113): CSV/Kafka user
behavior → filter pv → event-time 1 h / 5 min sliding window count per item →
per-window Top-3 → console.

Two streaming Top-N strategies (SURVEY.md §2.6 T1):
- ``foreachBatch`` (default, idiomatic): windowed agg in append mode emits
  finalized windows; each batch ranks them with the batch rank-window
  operator; ``sinks.files.idempotent_batch_sink`` skips replayed batches.
- ``stateful`` (faithful port): streaming/stateful_topn.py buffers per
  window-end with an event-time timeout at window_end+1 — the reference's
  ListState + timer pattern, kept fully incremental.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.parsing import parse_user_behavior
from ..operators.topn import top_n_by_count
from ..operators.windows import sliding_count
from ..sinks.files import idempotent_batch_sink
from ..sinks.memory import start_foreach_batch
from ..streaming.stateful_topn import streaming_windowed_top_n
from ..streaming.watermarks import ascending_watermark


def behavior_counts(raw_lines: DataFrame, streaming: bool = True) -> DataFrame:
    """value:string CSV → pv filter → sliding window counts per item
    (= ItemViewCount stream: item_id, window_end, cnt)."""
    parsed = parse_user_behavior(raw_lines)
    pv = parsed.filter(F.col("behavior") == "pv")
    if streaming:
        pv = ascending_watermark(pv, "ts")
    return sliding_count(pv, "ts", ["item_id"], "1 hour", "5 minutes")


def batch_top_n(raw_lines: DataFrame, n: int = 3) -> DataFrame:
    """Batch replay of the whole job (the commented-out file mode,
    HotItemAnalysis.java:58,77)."""
    counts = behavior_counts(raw_lines, streaming=False)
    return top_n_by_count(counts, ["window_end"], "cnt", ["item_id"], n).select(
        "window_end", "rank", "item_id", "cnt"
    )


def run_streaming_foreach_batch(
    raw_lines: DataFrame, checkpoint: str, out_path: str, n: int = 3
):
    """Default strategy: the windowed agg in append mode emits each window
    exactly once (when the watermark closes it), so ranking within the batch
    is complete per window.  Ranked rows go to ``idempotent_batch_sink``
    (stand-in for the JDBC upsert / console): a replayed batch is skipped,
    so output is effectively-once; read it with ``read_committed``."""
    counts = behavior_counts(raw_lines, streaming=True)
    sink = idempotent_batch_sink(out_path)

    def rank_batch(batch_df: DataFrame, batch_id: int) -> None:
        ranked = top_n_by_count(batch_df, ["window_end"], "cnt", ["item_id"], n)
        sink(ranked.select("window_end", "rank", "item_id", "cnt"), batch_id)

    return start_foreach_batch(
        counts, rank_batch, name="hot items job", checkpoint=checkpoint, mode="append"
    )


def streaming_top_n_pipeline(raw_lines: DataFrame, n: int = 3) -> DataFrame:
    """Faithful stateful port: one fused stateful operator keyed by window
    end (CountAgg + TopNHotItems collapsed — Spark rejects a stateful map
    chained after a streaming aggregation).  Returns the unstarted stream."""
    parsed = parse_user_behavior(raw_lines)
    # no watermark here: streaming_windowed_top_n owns watermark placement
    # (it must sit above the map-side combine)
    pv = parsed.filter(F.col("behavior") == "pv")
    return streaming_windowed_top_n(pv, ts_col="ts", item_col="item_id", n=n)
