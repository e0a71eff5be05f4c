"""HotItemAnalysis pipeline (HotItemAnalysis.java:61-113): CSV/Kafka user
behavior → filter pv → event-time 1 h / 5 min sliding window count per item →
per-window Top-3 → console.

One streaming Top-N engine (SURVEY.md §2.6 T1), ``run_streaming_foreach_batch``:
the windowed agg in append mode emits each window once, when the watermark
closes it; each micro-batch ranks those finished windows with the batch
rank-window operator (``top_n_by_count``); ``sinks.files.idempotent_batch_sink``
never writes a replayed batch twice.  The reference's ListState + event-time timer
(``TopNHotItems``) collapses into the append-mode close: a window reaches the
ranker exactly when the timer at window_end+1 would have fired.
``batch_top_n`` runs the same operators over a bounded input and is the
stream's correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.parsing import parse_user_behavior
from ..operators.topn import top_n_by_count
from ..operators.windows import sliding_count
from ..sinks.files import idempotent_batch_sink
from ..sinks.memory import start_foreach_batch
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
    """The streaming job: the windowed agg in append mode emits each window
    exactly once (when the watermark closes it), so ranking within the batch
    is complete per window.  Ranked rows go to ``idempotent_batch_sink``
    (stand-in for the JDBC upsert / console): a replayed batch is not
    written again, so output is effectively-once across a restart from the
    checkpoint; read it with ``read_committed``."""
    counts = behavior_counts(raw_lines, streaming=True)
    sink = idempotent_batch_sink(out_path)

    def rank_batch(batch_df: DataFrame, batch_id: int) -> None:
        ranked = top_n_by_count(batch_df, ["window_end"], "cnt", ["item_id"], n)
        sink(ranked.select("window_end", "rank", "item_id", "cnt"), batch_id)

    return start_foreach_batch(
        counts, rank_batch, name="hot items job", checkpoint=checkpoint, mode="append"
    )
