"""Explicit StructType schemas (SURVEY.md §1.2).

The reference declares all record types as fixed Java classes — no inference.
We mirror that: every schema is declared here, never inferred, which also
avoids streaming schema-inference pitfalls.

Reference types:
    LogTrack      domain/LogTrack.java:16-20
    UserBehavior  domain/UserBehavior.java:16-20
    ItemViewCount domain/ItemViewCount.java:17-19
    LogTrackPoint HotMediaTrack.java:216-221
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .session import _listing

# ---------------------------------------------------------------------------
# Reference record types
# ---------------------------------------------------------------------------

# domain/LogTrack.java:16-20 — parsed ad-track event.  Epoch-millis longs are
# kept as TimestampType after normalization (HotMediaTrack.java:184,189,193).
LOG_TRACK = StructType(
    [
        StructField("appid", StringType()),
        StructField("type", IntegerType()),
        StructField("send_time", TimestampType()),
        StructField("event_time", TimestampType()),  # nullable (java:187-190)
        StructField("receive_time", TimestampType()),
    ]
)

# Raw log_track JSON value (HotMediaTrack.java:38 sample): only the 5 consumed
# fields are declared; from_json in PERMISSIVE mode ignores the ~45 others.
LOG_TRACK_JSON = StructType(
    [
        StructField("appid", StringType()),
        StructField("event_type", IntegerType()),
        StructField("timestamp", LongType()),  # epoch seconds
        StructField("event_time", LongType()),  # epoch seconds, nullable
        StructField("log_time", LongType()),  # epoch millis
    ]
)

# domain/UserBehavior.java:16-20 — CSV contract at HotItemAnalysis.java:55-58.
USER_BEHAVIOR = StructType(
    [
        StructField("user_id", LongType()),
        StructField("item_id", LongType()),
        StructField("category_id", LongType()),
        StructField("behavior", StringType()),
        StructField("ts", TimestampType()),
    ]
)

# CSV wire schema before timestamp normalization (epoch seconds).
USER_BEHAVIOR_CSV = "user_id BIGINT, item_id BIGINT, category_id BIGINT, behavior STRING, timestamp BIGINT"

# domain/ItemViewCount.java:17-19 — intermediate window result.
ITEM_VIEW_COUNT = StructType(
    [
        StructField("item_id", LongType()),
        StructField("window_end", TimestampType()),
        StructField("cnt", LongType()),
    ]
)

# HotMediaTrack.java:216-221 → MySQL sink row; column names per the INSERT at
# HotMediaTrack.java:116.
LOG_TRACK_POINT = StructType(
    [
        StructField("time", TimestampType()),
        StructField("appid", StringType()),
        StructField("type", IntegerType()),
        StructField("count", LongType()),
    ]
)

# ---------------------------------------------------------------------------
# Driver testdata tables (/root/testdata/sf*/; TESTDATA.md)
# ---------------------------------------------------------------------------

EVENTS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),  # JSON string, e.g. {"k": 69}
    ]
)

EVENT_PROPS_JSON = StructType([StructField("k", IntegerType())])

DOCUMENTS = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

EMBEDDINGS = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

# ---------------------------------------------------------------------------
# Multimodal column convention (north-star): opaque binary payload + typed
# metadata.  Decode/resize/frame-sample run as Arrow-batched pandas UDFs over
# this shape; the media libs are stubbed in this container but the schema,
# partitioning and UDF signatures are real (see operators/multimodal.py).
# ---------------------------------------------------------------------------

MEDIA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("modality", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("meta", MapType(StringType(), StringType())),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session-level table-HANDLE memo: (session id, dir, table) -> (session,
# DataFrame).  This is a metadata/plan cache, NOT a result or data cache:
# the value is an unexecuted logical scan; every action on it still reads
# the parquet bytes from disk.  What it amortizes is the per-call driver
# work of `spark.read.parquet` — file listing + footer schema read +
# relation resolution, measured ~100 ms per call warm at sf0.1 — which a
# production deployment pays once per catalog snapshot (metastore/Iceberg
# manifest; guide §6 recommends exactly this via
# filesourcePartitionFileCacheSize for catalog tables), not once per
# query.  The session object rides in the value so a GC'd session's id
# can never alias a live one.  The value also holds the listing its scan
# was planned on (session.Memo's key): a handle planned on an older file
# at the same path reads that file's byte ranges from the new one (a
# 50k-row file landed over a 100-row one counted 0 rows), so a changed
# listing re-reads the table.
_TABLE_MEMO: dict[tuple, tuple] = {}


def load_table(spark, sf_dir: str, name: str):
    """Load one driver-generated parquet table (TESTDATA.md).

    ``events.ts`` is parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as int64 nanos and is
    normalized here to TimestampType (microsecond floor — consistent with
    DuckDB's ns→ms floor in ``epoch_ms``).
    """
    key = (id(spark), sf_dir, name)
    hit = _TABLE_MEMO.get(key)
    if hit is not None and hit[2] == _listing(spark, [hit[1]]):
        return hit[1]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # integer `div`, not `/` — double division loses precision on int64 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
        from pyspark.sql import functions as F

        # Session whose inferTimestampNTZ conf we couldn't set (external
        # driver session): normalize NTZ → session-tz (UTC) timestamp so
        # epoch functions apply; wall-clock fields are unchanged.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_MEMO[key] = (spark, df, _listing(spark, [df]))
    return df
