#!/usr/bin/env python3
"""CLI for the HotItemAnalysis pipeline (HotItemAnalysis.java:61-113).

Batch replay:
    python bin/run_hot_items.py --mode batch --input /path/UserBehavior.csv

Streaming over a file directory (each new file = a micro-batch):
    python bin/run_hot_items.py --mode stream --input /path/dir \
        --checkpoint_dir /tmp/ck --output /tmp/out

Kafka (requires the spark-sql-kafka package on the cluster):
    python bin/run_hot_items.py --mode kafka --kafka_from_url host:9092 \
        --topic hot-items --checkpoint_dir /tmp/ck --output /tmp/out

Streaming output is one parquet directory per committed micro-batch; read
it with ``test_flink_spark.sinks.files.read_committed(spark, "/tmp/out")``.
"""

from __future__ import annotations

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from test_flink_spark.config import PipelineConfig
from test_flink_spark.pipelines.hot_items import batch_top_n, run_streaming_foreach_batch
from test_flink_spark.session import get_spark
from test_flink_spark.sources.files import text_lines
from test_flink_spark.sources.kafka import kafka_reader, string_values


def main(argv: list[str]) -> None:
    cfg = PipelineConfig.from_args(argv)
    mode = cfg.extra.get("mode", "batch")
    spark = get_spark("hot items job")

    if mode == "batch":
        lines = text_lines(spark, cfg.extra["input"])
        batch_top_n(lines, n=cfg.top_size).orderBy("window_end", "rank").show(
            100, truncate=False
        )
        return

    if mode == "stream":
        lines = text_lines(spark, cfg.extra["input"], streaming=True)
    elif mode == "kafka":
        cfg.require("kafka_from_url")
        raw = kafka_reader(
            spark, cfg.kafka_from_url, topic=cfg.extra.get("topic", "hot-items")
        ).load()
        lines = string_values(raw)
    else:
        raise SystemExit(f"unknown --mode {mode!r}")

    query = run_streaming_foreach_batch(
        lines, cfg.checkpoint_dir, cfg.extra["output"], n=cfg.top_size
    )
    query.awaitTermination()


if __name__ == "__main__":
    main(sys.argv[1:])
