"""test_flink_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of evan-qianjh/test-flink.

The reference (read-only at /root/reference) is an Apache Flink 1.9 DataStream
job suite: Kafka → JSON/CSV parse → event-time tumbling & sliding windows →
incremental count/avg aggregation → per-window Top-N via keyed state + timers →
MySQL/console sinks.  This package re-expresses every operator Spark-first
(DataFrame/SQL + Structured Streaming), extended with LLM-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis), all
designed for 100 TB scale: no driver-side collects, broadcast for small dims,
partial aggregation, pushdown-friendly declarative plans.

Layout:
    session.py     SparkSession builder with scale-minded defaults
    schemas.py     explicit StructType schemas (SURVEY.md §1.2)
    functions/     scalar-function helpers (parsing, time, text)
    operators/     reusable DataFrame operators (windows, topn, joins, dedup…)
    sources/       batch + streaming source builders (kafka, files, rate)
    sinks/         foreachBatch JDBC upsert, console
    streaming/     watermarks, keyed state + timers (applyInPandasWithState)
    pipelines/     the two reference jobs reassembled (batch + streaming;
                   hot-items Top-N streams through foreachBatch)
    plans/         named query assemblies used by __spark_entry__.py
"""

__version__ = "0.1.0"
