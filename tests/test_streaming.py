"""Streaming semantics tests (SURVEY.md §5.2 item 4): watermark close,
append mode, late-row drop, streaming dedup, keyed-state operators vs
their batch forms (the hot-items Top-N engine is tested in
test_pipelines.py).  Harness: file streaming source (new file per
micro-batch) + memory/parquet sinks, processAllAvailable() between file
drops for determinism."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from test_flink_spark.pipelines.hot_media_track import transform as media_transform
from test_flink_spark.sinks.files import batch_dir, marked, read_batch, read_marked
from test_flink_spark.sinks.memory import start_memory
from test_flink_spark.sources.files import text_lines


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="tfs-stream-")
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


def _write_lines(dir_: Path, name: str, lines: list[str]) -> None:
    (dir_ / name).write_text("\n".join(lines) + "\n")


def test_hot_media_streaming_counts(spark, tmpdirs):
    src = tmpdirs / "src"
    src.mkdir()
    ckpt = str(tmpdirs / "ckpt")
    j = (
        '{{"appid": "{a}", "event_type": {t}, "timestamp": {s}, '
        '"event_time": {s}, "log_time": {ms}, "noise": "x"}}'
    )
    _write_lines(
        src,
        "b1.json",
        [
            j.format(a="app1", t=2, s=100, ms=100_000),
            j.format(a="app1", t=2, s=101, ms=101_000),
            j.format(a="app2", t=1, s=102, ms=129_999),
        ],
    )
    stream = text_lines(spark, str(src), streaming=True)
    out = media_transform(stream, streaming=True)
    q = start_memory(out, "media_test", ckpt)
    try:
        q.processAllAvailable()
        _write_lines(src, "b2.json", [j.format(a="zzz", t=9, s=500, ms=500_000)])
        q.processAllAvailable()
        rows = spark.table("media_test").collect()
    finally:
        q.stop()
    got = {
        (r["appid"], r["type"], int(r["time"].timestamp() * 1000)): r["count"]
        for r in rows
    }
    # 30 s tumbling on receive_time (log_time): [90s,120s) and [120s,150s)
    assert got[("app1", 2, 120_000)] == 2
    assert got[("app2", 1, 150_000)] == 1


def test_late_rows_dropped_after_watermark(spark, tmpdirs):
    src = tmpdirs / "src"
    src.mkdir()
    ckpt = str(tmpdirs / "ckpt")
    _write_lines(src, "b1.csv", ["1,100,10,pv,3600"])
    stream = text_lines(spark, str(src), streaming=True)
    from test_flink_spark.pipelines.hot_items import behavior_counts

    counts = behavior_counts(stream, streaming=True)
    q = start_memory(counts, "late_test", ckpt)
    try:
        q.processAllAvailable()
        # advance watermark way past t=3600's windows …
        _write_lines(src, "b2.csv", ["2,100,10,pv,90000"])
        q.processAllAvailable()
        # … then replay a LATE row in the long-closed window
        _write_lines(src, "b3.csv", ["3,100,10,pv,3601"])
        q.processAllAvailable()
        _write_lines(src, "b4.csv", ["4,100,10,pv,95000"])
        q.processAllAvailable()
        rows = spark.table("late_test").collect()
    finally:
        q.stop()
    # the late row must NOT bump any closed window count for item 100 above 1
    item100 = [r["cnt"] for r in rows if r["item_id"] == 100]
    assert item100 and all(c == 1 for c in item100)


def test_streaming_dedup_bounded_state_semantics(spark, tmpdirs):
    """streaming_exact_dedup (dropDuplicatesWithinWatermark): duplicates
    are suppressed while they can still legitimately arrive (within the
    watermark horizon) and per-key state is EVICTED once the watermark
    passes — a replay after that arrives below the watermark and is
    dropped as late, so nothing is double-emitted and state stays
    O(keys per horizon) instead of growing forever."""
    from test_flink_spark.functions.parsing import parse_user_behavior
    from test_flink_spark.streaming.dedup import streaming_exact_dedup
    from test_flink_spark.streaming.watermarks import bounded_lateness_watermark

    src = tmpdirs / "src"
    src.mkdir()
    ckpt = str(tmpdirs / "ckpt")
    _write_lines(src, "b1.csv", ["1,100,10,pv,3600", "1,100,10,pv,3600", "2,100,10,pv,3700"])
    stream = text_lines(spark, str(src), streaming=True)
    parsed = bounded_lateness_watermark(parse_user_behavior(stream), "ts", "10 minutes")
    deduped = streaming_exact_dedup(parsed, ["user_id", "item_id", "ts"])
    q = start_memory(deduped, "dedup_test", ckpt)
    try:
        q.processAllAvailable()
        assert spark.table("dedup_test").count() == 2  # in-batch dup collapsed
        # duplicate within the horizon + a row that pushes the watermark far ahead
        _write_lines(src, "b2.csv", ["1,100,10,pv,3600", "9,999,10,pv,90000"])
        q.processAllAvailable()
        assert spark.table("dedup_test").count() == 3  # dup suppressed, new row in
        # state for (1,100,3600) is now evicted; the stale replay is late → dropped
        _write_lines(src, "b3.csv", ["1,100,10,pv,3600"])
        q.processAllAvailable()
        rows = spark.table("dedup_test").collect()
    finally:
        q.stop()
    assert len(rows) == 3
    assert sorted(r["user_id"] for r in rows) == [1, 2, 9]


def test_streaming_session_window(spark, tmpdirs):
    """session_window works in append-mode streaming (engine superset —
    SURVEY.md §2.10); sessions close when the watermark passes start+gap."""
    from test_flink_spark.functions.parsing import parse_user_behavior
    from test_flink_spark.operators.windows import session_count
    from test_flink_spark.streaming.watermarks import ascending_watermark

    src = tmpdirs / "src"
    src.mkdir()
    ckpt = str(tmpdirs / "ckpt")
    # user 1: two events 5 s apart (one session), then one 120 s later
    _write_lines(src, "b1.csv", ["1,100,10,pv,1000", "1,100,10,pv,1005", "1,100,10,pv,1125"])
    stream = text_lines(spark, str(src), streaming=True)
    parsed = ascending_watermark(parse_user_behavior(stream), "ts")
    sessions = session_count(parsed, "ts", ["user_id"], gap="30 seconds")
    q = start_memory(sessions, "sess_test", ckpt)
    try:
        q.processAllAvailable()
        _write_lines(src, "b2.csv", ["2,100,10,pv,90000"])  # advance watermark
        q.processAllAvailable()
        rows = spark.table("sess_test").collect()
    finally:
        q.stop()
    got = {(r["user_id"], r["session_start"], r["cnt"]) for r in rows}
    assert (1, 1_000_000, 2) in got
    assert (1, 1_125_000, 1) in got


def test_rate_source_smoke(spark, tmpdirs):
    """Rate source produces (timestamp, value) rows — the synthetic stream
    for throughput tests."""
    from test_flink_spark.sources.files import rate_source

    stream = rate_source(spark, rows_per_second=50)
    assert stream.isStreaming
    q = start_memory(stream, "rate_test", str(tmpdirs / "ckpt"))
    try:
        import time

        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            q.processAllAvailable()
            n = spark.table("rate_test").count()
            if n > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n > 0
    assert dict(spark.table("rate_test").dtypes) == {"timestamp": "timestamp", "value": "bigint"}


def test_update_mode_emits_revisions(spark, tmpdirs):
    """Update output mode re-emits a group whenever its aggregate changes —
    the complement of append mode's emit-once-on-close (SURVEY.md §4.3:
    append is the reference-faithful mode; update is the engine extension
    for live dashboards)."""
    src = tmpdirs / "src"
    src.mkdir()
    ckpt = str(tmpdirs / "ckpt")
    _write_lines(src, "b1.csv", ["1,100,10,pv,3600"])
    stream = text_lines(spark, str(src), streaming=True)
    from test_flink_spark.functions.parsing import parse_user_behavior

    counts = (
        parse_user_behavior(stream)
        .groupBy("item_id")
        .count()
    )
    q = start_memory(counts, "upd_test", ckpt, mode="update")
    try:
        q.processAllAvailable()
        first = {(r["item_id"], r["count"]) for r in spark.table("upd_test").collect()}
        _write_lines(src, "b2.csv", ["2,100,10,pv,3700"])
        q.processAllAvailable()
        all_rows = [(r["item_id"], r["count"]) for r in spark.table("upd_test").collect()]
    finally:
        q.stop()
    assert (100, 1) in first
    # the revised count for item 100 was re-emitted in the second batch
    assert (100, 2) in all_rows


def test_streaming_quality_curation_matches_batch(spark, tmpdirs):
    """The LLM-data text operators are plain Catalyst expressions, so the
    SAME quality-score + filter composition runs unchanged over
    readStream: a streamed corpus filtered in update mode must agree row
    for row with the batch operator on identical input (curation as a
    stream — how a 100 TB ingest pipeline scores docs on arrival)."""
    import json

    from test_flink_spark.operators.text import quality_scores

    src = tmpdirs / "docs_src"
    src.mkdir()
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "spam spam spam spam spam spam spam spam"),
        (3, "a of to in and the the a of in to and"),
        (4, "informative prose with reasonably diverse vocabulary here"),
    ]
    lines = [json.dumps({"doc_id": i, "text": t}) for i, t in docs]
    (src / "b1.jsonl").write_text("\n".join(lines) + "\n")

    schema = "doc_id LONG, text STRING"
    stream = spark.readStream.schema(schema).json(str(src))
    scored = quality_scores(stream)  # identical call as batch
    q = start_memory(scored, "stream_quality", str(tmpdirs / "ckpt_q"), mode="update")
    try:
        q.processAllAvailable()
        got = {r["doc_id"]: r for r in spark.table("stream_quality").collect()}
    finally:
        q.stop()
    batch = {
        r["doc_id"]: r
        for r in quality_scores(spark.createDataFrame(docs, schema)).collect()
    }
    assert set(got) == set(batch)
    for d in got:
        assert got[d]["n_tokens"] == batch[d]["n_tokens"]
        assert abs(got[d]["distinct_ratio"] - batch[d]["distinct_ratio"]) < 1e-9
        assert abs(got[d]["stopword_ratio"] - batch[d]["stopword_ratio"]) < 1e-9
    # and the curation predicate keeps/drops the same docs either way
    keep_stream = {d for d in got if got[d]["distinct_ratio"] >= 0.5}
    keep_batch = {d for d in batch if batch[d]["distinct_ratio"] >= 0.5}
    assert keep_stream == keep_batch and 2 not in keep_stream


def test_streaming_minhash_matches_batch_candidates(spark, tmpdirs):
    """Streaming MinHash-LSH must surface EXACTLY the batch operator's
    candidate pair set on identical input (signatures are the same
    expression; the stateful buckets replay the batch band self-join
    incrementally), including pairs split across micro-batches."""
    import json

    from test_flink_spark.operators.dedup import minhash_lsh_pairs
    from test_flink_spark.schemas import load_table
    from test_flink_spark.streaming.minhash_dedup import streaming_minhash_pairs
    from test_flink_spark.streaming.watermarks import bounded_lateness_watermark

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    rows = docs.collect()
    batch_pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    assert batch_pairs, "fixture corpus has no near-dup candidates"

    src = tmpdirs / "mh_src"
    src.mkdir()
    # two micro-batches: pairs whose members arrive in different batches
    # must still be emitted (state carries the first member)
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        lines = [
            json.dumps(
                {"doc_id": r["doc_id"], "text": r["text"], "t": 1_000_000 + i}
            )
            for r in chunk
        ]
        (src / f"b{i}.jsonl").write_text("\n".join(lines) + "\n")

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING, t BIGINT")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.timestamp_seconds(F.col("t")))
    )
    stream = bounded_lateness_watermark(stream, "ts", "10 minutes")
    pairs = streaming_minhash_pairs(stream)
    q = start_memory(pairs, "mh_stream", str(tmpdirs / "mh_ckpt"), mode="append")
    try:
        q.processAllAvailable()
        got = {
            (r["id_a"], r["id_b"]) for r in spark.table("mh_stream").collect()
        }
    finally:
        q.stop()
    assert got == batch_pairs, (
        f"missing={sorted(batch_pairs - got)[:5]} extra={sorted(got - batch_pairs)[:5]}"
    )


def test_streaming_index_check_matches_batch_probe(spark, tmpdirs):
    """The stream-static band-index probe must flag exactly the (shard doc,
    corpus doc) collisions the batch incremental operator derives from the
    same index — stateless stream-static join, so micro-batch boundaries
    cannot change the set."""
    import json

    from test_flink_spark.operators.dedup import (
        lsh_band_keys,
        minhash_signatures,
    )
    from test_flink_spark.schemas import load_table
    from test_flink_spark.streaming.minhash_dedup import streaming_index_check

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    srcn = F.substring("source", 4, 10).cast("int")
    corpus, shard = docs.filter(srcn < 15), docs.filter(srcn >= 15)
    index = lsh_band_keys(minhash_signatures(corpus))

    # batch expectation: shard band keys joined against the same index
    shard_bands = lsh_band_keys(minhash_signatures(shard))
    want = {
        (r["doc_id"], r["dup_of"])
        for r in shard_bands.join(
            index.withColumnRenamed("doc_id", "dup_of"), ["band", "band_key"]
        )
        .select("doc_id", "dup_of")
        .collect()
    }
    assert want, "fixture shard has no corpus collisions"

    src = tmpdirs / "idx_src"
    src.mkdir()
    rows = shard.select("doc_id", "text").collect()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        (src / f"b{i}.jsonl").write_text(
            "\n".join(
                json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                for r in chunk
            )
            + "\n"
        )
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    hits = streaming_index_check(stream, index)
    q = start_memory(hits, "idx_stream", str(tmpdirs / "idx_ckpt"), mode="append")
    try:
        q.processAllAvailable()
        got = {
            (r["doc_id"], r["dup_of"])
            for r in spark.table("idx_stream").collect()
        }
    finally:
        q.stop()
    assert got == want


def test_streaming_state_metrics_expose_watermark_drops(spark, tmpdirs):
    """Operational observability: the progress metrics of a bounded-state
    dedup stream must report (a) rows actually dropped as late by the
    watermark and (b) state rows removed by eviction — the two numbers an
    operator watches to confirm state is bounded in production."""
    from test_flink_spark.functions.parsing import parse_user_behavior
    from test_flink_spark.streaming.dedup import streaming_exact_dedup
    from test_flink_spark.streaming.watermarks import bounded_lateness_watermark

    src = tmpdirs / "metrics_src"
    src.mkdir()
    ckpt = str(tmpdirs / "metrics_ckpt")
    _write_lines(src, "b1.csv", ["1,100,10,pv,3600", "2,100,10,pv,3700"])
    stream = text_lines(spark, str(src), streaming=True)
    parsed = bounded_lateness_watermark(parse_user_behavior(stream), "ts", "10 minutes")
    deduped = streaming_exact_dedup(parsed, ["user_id", "item_id", "ts"])
    q = start_memory(deduped, "metrics_test", ckpt)
    try:
        q.processAllAvailable()
        # jump the watermark far ahead, then replay a now-late row
        _write_lines(src, "b2.csv", ["9,999,10,pv,90000"])
        q.processAllAvailable()
        _write_lines(src, "b3.csv", ["1,100,10,pv,3600"])
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    assert ops, "no stateOperators metrics reported"
    dropped = sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
    evicted = sum(op.get("numRowsRemoved", 0) for op in ops)
    assert dropped >= 1, f"late replay not counted as watermark-dropped: {ops[-1]}"
    assert evicted >= 1, f"watermark advance evicted no state rows: {ops[-1]}"


def test_streaming_quality_filters_compose(spark, tmpdirs):
    """The round-4 curation operators are stateless pure expressions (or
    stream-static joins), so they must run UNCHANGED over readStream:
    gopher_quality_flags composes in append mode; unigram_surprisal_scores
    contains a per-doc aggregation, so on a stream it runs as a streaming
    aggregation in COMPLETE mode over a stream-static vocab join — both
    produce batch-identical rows."""
    import json

    from test_flink_spark.operators.lm_score import unigram_surprisal_scores
    from test_flink_spark.operators.text import gopher_quality_flags
    from test_flink_spark.sources.files import text_lines

    docs = [
        (0, "the quick brown fox jumps of the lazy dog in a field of rye"),
        (1, "zorp blix qux"),
        (2, "the a of and to in the a of and to in"),
    ]
    src = tmpdirs / "qsrc"
    src.mkdir()
    for i, (did, text) in enumerate(docs):
        _write_lines(src, f"d{i}.jsonl", [json.dumps({"doc_id": did, "text": text})])
    static = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    ref = static.filter("doc_id = 0")

    stream = (
        text_lines(spark, str(src), streaming=True)
        .selectExpr(
            "get_json_object(value, '$.doc_id') AS doc_id",
            "get_json_object(value, '$.text') AS text",
        )
        .selectExpr("CAST(doc_id AS LONG) AS doc_id", "text")
    )
    gq = gopher_quality_flags(stream, min_words=5)
    lm = unigram_surprisal_scores(stream, ref, flag_high=5.0, include_empty_docs=False)
    q1 = start_memory(gq, "stream_gopher", str(tmpdirs / "ck1"))
    q2 = start_memory(lm, "stream_lm", str(tmpdirs / "ck2"), mode="complete")
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
        got_g = {r["doc_id"]: r.asDict() for r in spark.table("stream_gopher").collect()}
        got_l = {r["doc_id"]: r.asDict() for r in spark.table("stream_lm").collect()}
    finally:
        q1.stop()
        q2.stop()
    want_g = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(static, min_words=5).collect()}
    want_l = {
        r["doc_id"]: r.asDict()
        for r in unigram_surprisal_scores(static, ref, flag_high=5.0, include_empty_docs=False).collect()
    }
    assert got_g == want_g
    assert got_l == want_l


def test_streaming_linear_quality_classifier_composes(spark, tmpdirs):
    """linear_quality_scores is explode -> groupBy(doc_id): on a stream it
    runs as a streaming aggregation in COMPLETE mode, unchanged — each
    arriving document's tokens partial-aggregate map-side exactly like the
    batch plan, so the model-based scorer drops into a streaming curation
    pipeline as-is and produces batch-identical rows."""
    import json

    from test_flink_spark.operators.importance import linear_quality_scores
    from test_flink_spark.sources.files import text_lines

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "zorp blix qux zorp"),
        (2, "alpha beta gamma delta epsilon"),
    ]
    src = tmpdirs / "clsrc"
    src.mkdir()
    for i, (did, text) in enumerate(docs):
        _write_lines(src, f"d{i}.jsonl", [json.dumps({"doc_id": did, "text": text})])
    static = spark.createDataFrame(docs, "doc_id LONG, text STRING")

    stream = (
        text_lines(spark, str(src), streaming=True)
        .selectExpr(
            "get_json_object(value, '$.doc_id') AS doc_id",
            "get_json_object(value, '$.text') AS text",
        )
        .selectExpr("CAST(doc_id AS LONG) AS doc_id", "text")
    )
    scored = linear_quality_scores(stream)
    q = start_memory(scored, "stream_cls", str(tmpdirs / "ckcls"), mode="complete")
    try:
        q.processAllAvailable()
        got = {r["doc_id"]: r.asDict() for r in spark.table("stream_cls").collect()}
    finally:
        q.stop()
    want = {r["doc_id"]: r.asDict() for r in linear_quality_scores(static).collect()}
    assert got == want


def test_streaming_hll_registers_match_batch(spark, tmpdirs):
    """The HLL sketch composes over readStream: a windowed (register ->
    max rank) streaming aggregation emits, at window close, exactly the
    register table the batch operator computes on the same rows — so
    per-window sketches can be persisted from a stream and folded into
    any coarser span later (the mergeability pytest in test_sketches)."""
    from test_flink_spark.functions.parsing import parse_user_behavior
    from test_flink_spark.operators import sketch as sk
    from test_flink_spark.streaming.watermarks import ascending_watermark

    src = tmpdirs / "src"
    src.mkdir()
    ckpt = str(tmpdirs / "ckpt")
    lines = [f"{uid},100,10,pv,{1000 + uid}" for uid in range(1, 40)]
    _write_lines(src, "b1.csv", lines)

    stream = text_lines(spark, str(src), streaming=True)
    parsed = ascending_watermark(parse_user_behavior(stream), "ts")
    reg, rank = sk.hll_register_rank(F.col("user_id"))
    streamed = (
        parsed.select(F.window("ts", "600 seconds").alias("w"), reg.alias("reg"), rank.alias("rank"))
        .groupBy("w", "reg")
        .agg(F.max("rank").alias("m_rank"))
        .select(F.col("w.start").alias("w_start"), "reg", "m_rank")
    )
    from test_flink_spark.sinks.memory import start_memory

    q = start_memory(streamed, "hll_stream", ckpt)
    try:
        q.processAllAvailable()
        _write_lines(src, "b2.csv", ["999,100,10,pv,90000"])  # close the window
        q.processAllAvailable()
        got = {
            (r["reg"], r["m_rank"])
            for r in spark.table("hll_stream").collect()
            if r["w_start"].timestamp() < 80000
        }
    finally:
        q.stop()

    batch = parse_user_behavior(spark.createDataFrame([(l,) for l in lines], "value STRING"))
    expect = {
        (r["reg"], r["m_rank"])
        for r in batch.select(reg.alias("reg"), rank.alias("rank"))
        .groupBy("reg")
        .agg(F.max("rank").alias("m_rank"))
        .collect()
    }
    assert got == expect and len(expect) > 0


def test_streaming_topic_labels_compose(spark, tmpdirs):
    """topic_labels is a zero-shuffle pure-array projection, so it must
    run UNCHANGED over readStream in append mode with batch-identical
    rows (the labeling-function stage of a streaming curation pipeline)."""
    import json

    from test_flink_spark.operators.labeling import topic_labels
    from test_flink_spark.sources.files import text_lines

    lex = {"join": ["join", "merge"], "scan": ["scan", "filter"]}
    docs = [
        (0, "join merge join"),
        (1, "scan filter scan scan"),
        (2, "neither of those words"),
        (3, "join scan"),  # tie -> 'join' (name asc)
    ]
    src = tmpdirs / "tlsrc"
    src.mkdir()
    for i, (did, text) in enumerate(docs):
        _write_lines(src, f"d{i}.jsonl", [json.dumps({"doc_id": did, "text": text})])
    stream = (
        text_lines(spark, str(src), streaming=True)
        .selectExpr(
            "CAST(get_json_object(value, '$.doc_id') AS LONG) AS doc_id",
            "get_json_object(value, '$.text') AS text",
        )
    )
    q = start_memory(topic_labels(stream, lex), "stream_topics", str(tmpdirs / "cktl"))
    try:
        q.processAllAvailable()
        got = {r["doc_id"]: r.asDict() for r in spark.table("stream_topics").collect()}
    finally:
        q.stop()
    static = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    want = {r["doc_id"]: r.asDict() for r in topic_labels(static, lex).collect()}
    assert got == want
    assert got[3]["label"] == "join"  # tie-break preserved on the stream


def test_streaming_heartbeat_detects_silent_key(spark, tmpdirs):
    """Key 1 stops sending; key 2's continued traffic advances the
    watermark past key 1's deadline -> exactly one gap alert for key 1,
    none for the still-alive key 2.  CSV contract: k,epoch_seconds."""
    from test_flink_spark.streaming.heartbeat import streaming_heartbeat_gaps

    src = tmpdirs / "hbsrc"
    src.mkdir()
    # batch 1: both keys alive around t=100s
    _write_lines(src, "b1.csv", ["1,100", "2,101", "1,105", "2,106"])
    parsed = None

    def _stream():
        from pyspark.sql import functions as F
        from test_flink_spark.sources.files import text_lines

        c = F.split(F.col("value"), ",")
        return text_lines(spark, str(src), streaming=True).select(
            c.getItem(0).cast("long").alias("k"),
            F.timestamp_seconds(c.getItem(1).cast("long")).alias("ts"),
        )

    out = streaming_heartbeat_gaps(_stream(), gap_ms=30_000)
    q = start_memory(out, "hb_test", str(tmpdirs / "hbck"))
    try:
        q.processAllAvailable()
        assert spark.table("hb_test").count() == 0  # nobody silent yet
        # batch 2: only key 2 keeps beating, far past key 1's deadline
        _write_lines(src, "b2.csv", ["2,200", "2,300"])
        q.processAllAvailable()
        # one more batch so the watermark computed from b2 fires timers
        _write_lines(src, "b3.csv", ["2,301"])
        q.processAllAvailable()
        rows = spark.table("hb_test").collect()
    finally:
        q.stop()
    assert [(r["k"], r["last_seen_ms"]) for r in rows] == [(1, 105_000)]
    assert rows[0]["silent_for_ms"] >= 30_000


def test_multimodal_fingerprints_compose_over_readstream(spark, tmpdirs):
    """Ingest-time media fingerprinting: the wrap -> resize -> aHash chain
    (JVM expressions + Arrow-batched mapInPandas) runs unchanged on a
    streaming DataFrame and emits exactly the batch results — scoring
    media ON ARRIVAL costs no redesign."""
    import base64
    import json

    from test_flink_spark.operators.multimodal import (
        ahash_ppm,
        ppm_wrap,
        resize_ppm_nearest,
    )

    payloads = [
        (i, "image", bytes(((i + 1) * 37 * j) % 256 for j in range(300)))
        for i in range(6)
    ]
    batch_df = spark.createDataFrame(
        payloads, "media_id LONG, modality STRING, payload BINARY"
    )

    def chain(df):
        return ahash_ppm(
            resize_ppm_nearest(ppm_wrap(df, width=16, height=12), 8, 8)
        )

    want = {tuple(r) for r in chain(batch_df).collect()}

    src = tmpdirs / "media_src"
    src.mkdir()
    for i, chunk in enumerate((payloads[:3], payloads[3:])):
        (src / f"b{i}.jsonl").write_text(
            "\n".join(
                json.dumps(
                    {
                        "media_id": mid,
                        "modality": mod,
                        "payload_b64": base64.b64encode(raw).decode(),
                    }
                )
                for mid, mod, raw in chunk
            )
            + "\n"
        )
    stream = (
        spark.readStream.schema("media_id LONG, modality STRING, payload_b64 STRING")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select("media_id", "modality", F.unbase64("payload_b64").alias("payload"))
    )
    q = start_memory(
        chain(stream), "media_stream", str(tmpdirs / "media_ckpt"), mode="append"
    )
    try:
        q.processAllAvailable()
        got = {tuple(r) for r in spark.table("media_stream").collect()}
    finally:
        q.stop()
    assert got == want


def test_streaming_ohlc_converges_to_batch(spark, tmpdirs):
    """The OHLC aggregate (min/max over (ts, tiebreak, value) structs) is
    map-side combinable, so the SAME operator expression runs as a
    streaming update-mode aggregation and must converge to the batch
    result over all data seen — including open/close corrections when a
    later micro-batch delivers an EARLIER event for a day (out-of-order
    arrival flips the open; only update mode can re-emit the fix)."""
    from test_flink_spark.operators.timeseries import ohlc_bars

    src = tmpdirs / "src"
    src.mkdir()
    # day 0: open should end up cents=111 (t=1000), close=333 (t=5000)
    (src / "b1.csv").write_text("0,2000,7,222\n0,5000,9,333\n")
    raw = spark.readStream.schema(
        "day LONG, ts_ms LONG, event_id LONG, cents LONG"
    ).csv(str(src))
    out = ohlc_bars(raw, ["day"])
    q = (
        out.writeStream.queryName("ohlc_stream")
        .format("memory")
        .outputMode("update")
        .option("checkpointLocation", str(tmpdirs / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r["day"]: (r["open"], r["high"], r["low"], r["close"], r["n_events"])
            for r in spark.table("ohlc_stream").collect()
        }
        assert first[0] == (222, 333, 222, 333, 2)
        # out-of-order: an EARLIER event arrives in a later batch
        (src / "b2.csv").write_text("0,1000,1,111\n")
        q.processAllAvailable()
        rows = spark.table("ohlc_stream").collect()
    finally:
        q.stop()
    # update mode re-emits day 0; the LATEST emission carries the fix
    latest = {}
    for r in rows:
        latest[r["day"]] = (r["open"], r["high"], r["low"], r["close"], r["n_events"])
    batch = {
        r["day"]: (r["open"], r["high"], r["low"], r["close"], r["n_events"])
        for r in ohlc_bars(
            spark.read.schema("day LONG, ts_ms LONG, event_id LONG, cents LONG")
            .csv(str(src)),
            ["day"],
        ).collect()
    }
    assert latest == batch == {0: (111, 333, 111, 333, 3)}


def test_streaming_session_window_converges_to_batch(spark, tmpdirs):
    """session_count runs the SAME session_window expression in streaming
    append mode: sessions merge across micro-batches (an event inside the
    gap extends the session; one past the gap opens a new one) and a
    session only emits once the watermark passes its close.  Converges to
    the batch operator over the same rows — the streaming leg of the §2.10
    session-window superset row."""
    from test_flink_spark.operators.windows import session_count

    src = tmpdirs / "src"
    src.mkdir()
    # user 7: events at t=0s and 100s (same session, gap 5m), then 1000s
    # (new session).  Split across batches so the merge crosses a batch
    # boundary.
    (src / "b1.csv").write_text("7,0\n")
    raw_schema = "user_id LONG, ts_s LONG"

    def stream_df():
        raw = spark.readStream.schema(raw_schema).csv(str(src))
        ev = raw.select(
            "user_id", F.timestamp_seconds(F.col("ts_s")).alias("ts")
        ).withWatermark("ts", "0 seconds")
        return session_count(ev, "ts", ["user_id"], gap="5 minutes")

    q = (
        stream_df()
        .writeStream.queryName("session_stream")
        .format("memory")
        .outputMode("append")
        .option("checkpointLocation", str(tmpdirs / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        (src / "b2.csv").write_text("7,100\n7,1000\n")
        q.processAllAvailable()
        # push the watermark far past both sessions' closes
        (src / "b3.csv").write_text("7,99999\n")
        q.processAllAvailable()
        got = {
            (r["user_id"], r["session_start"]): r["cnt"]
            for r in spark.table("session_stream").collect()
        }
    finally:
        q.stop()
    batch_rows = spark.createDataFrame(
        [(7, 0), (7, 100), (7, 1000)], raw_schema
    ).select("user_id", F.timestamp_seconds(F.col("ts_s")).alias("ts"))
    batch = {
        (r["user_id"], r["session_start"]): r["cnt"]
        for r in session_count(batch_rows, "ts", ["user_id"], gap="5 minutes")
        .collect()
    }
    # the streaming output must contain exactly the batch sessions for the
    # closed windows (the t=99999 sentinel session may still be open)
    for k, v in batch.items():
        assert got.get(k) == v, (k, v, got)
    assert got[(7, 0)] == 2  # cross-batch merge happened
    assert got[(7, 1_000_000)] == 1


def _foreachbatch_accumulate_and_apply(spark, tmpdirs, src_schema, batches,
                                       apply_fn):
    """The repo's foreachBatch differential harness for NON-incremental
    operators (lead()/row_number() need the whole per-key series, so
    unlike OHLC they cannot run as a streaming aggregation): each
    micro-batch appends its raw rows to an accumulator table, then the
    UNCHANGED batch operator recomputes over everything seen so far.
    At 100 TB the accumulator is a partitioned lakehouse table and the
    recompute is bounded to the touched keys; here it is parquet + full
    recompute.  Returns the final emission, to be compared against the
    batch operator over the union of all inputs."""
    src = tmpdirs / "src"
    src.mkdir()
    acc = str(tmpdirs / "acc")
    results = []

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(acc)
        seen = spark.read.schema(src_schema).parquet(acc)
        results.append(apply_fn(seen).collect())

    (src / "b0.csv").write_text(batches[0])
    q = (
        spark.readStream.schema(src_schema).csv(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmpdirs / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i, content in enumerate(batches[1:], 1):
            (src / f"b{i}.csv").write_text(content)
            q.processAllAvailable()
    finally:
        q.stop()
    return results[-1]


def test_streaming_time_weighted_avg_converges_to_batch(spark, tmpdirs):
    """Streaming parity for time_weighted_avg (r5 verdict item 7): the
    foreachBatch accumulator recompute converges to the batch operator
    even when a LATER micro-batch delivers an EARLIER observation (the
    LOCF integral re-segments — no incremental aggregation can patch a
    gap split retroactively, which is exactly why this operator rides
    foreachBatch instead of a streaming agg)."""
    from test_flink_spark.operators.timeseries import time_weighted_avg

    schema = "k STRING, ts_ms LONG, cents LONG, eid LONG"
    batches = [
        "a,0,100,1\na,20,0,4\n",      # 100 spans 0..20
        "a,10,500,2\na,10,900,3\n",   # out-of-order: re-segments to 0..10..20
    ]
    final = _foreachbatch_accumulate_and_apply(
        spark, tmpdirs, schema, batches,
        lambda df: time_weighted_avg(df, ["k"], "ts_ms", "cents",
                                     tiebreak_col="eid"),
    )
    all_rows = spark.createDataFrame(
        [("a", 0, 100, 1), ("a", 20, 0, 4), ("a", 10, 500, 2),
         ("a", 10, 900, 3)], schema)
    batch = time_weighted_avg(
        all_rows, ["k"], "ts_ms", "cents", tiebreak_col="eid").collect()
    assert [r.asDict() for r in final] == [r.asDict() for r in batch]
    # integral: 100*10 + 500*0 + 900*10 = 10000 over span 20 -> 500.0
    assert final[0]["twa_cents"] == 500.0


def test_streaming_lttb_converges_to_batch(spark, tmpdirs):
    """Streaming parity for lttb_downsample: bucket boundaries move as n
    grows, so selected points can CHANGE retroactively across batches —
    the foreachBatch recompute converges to the batch answer over all
    rows seen, which no append-mode emission could."""
    from test_flink_spark.operators.timeseries import lttb_downsample

    schema = "k STRING, ts_ms LONG, cents LONG"
    rows1 = "\n".join(f"a,{t},{(t * 37) % 200}" for t in range(0, 300, 10))
    rows2 = "\n".join(f"a,{t},{(t * 37) % 200}" for t in range(300, 600, 10))
    final = _foreachbatch_accumulate_and_apply(
        spark, tmpdirs, schema, [rows1 + "\n", rows2 + "\n"],
        lambda df: lttb_downsample(df, ["k"], "ts_ms", "cents", n_out=12),
    )
    all_rows = spark.createDataFrame(
        [("a", t, (t * 37) % 200) for t in range(0, 600, 10)], schema)
    batch = lttb_downsample(all_rows, ["k"], "ts_ms", "cents", n_out=12)
    assert sorted([r.asDict() for r in final], key=lambda d: d["ord"]) == \
        sorted([r.asDict() for r in batch.collect()], key=lambda d: d["ord"])
    assert len(final) == 12


def test_streaming_attribution_converges_to_batch(spark, tmpdirs):
    """Streaming parity for last-touch attribution: a purchase can
    arrive in an EARLIER micro-batch than its winning touch (late touch
    re-attributes the conversion), so the operator rides the
    foreachBatch accumulator recompute; converges to the batch result
    over all rows seen."""
    from pyspark.sql import Window

    day = 86_400_000

    def attribution(df):
        w = (
            Window.partitionBy("user_id")
            .orderBy(F.col("ts_ms").asc(), F.col("event_id").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        touch = F.when(
            F.col("event_type").isin("view", "click"),
            F.struct(F.col("ts_ms").alias("t"), F.col("event_id").alias("e"),
                     F.col("event_type").alias("ch")),
        )
        return (
            df.withColumn("lt", F.last(touch, ignorenulls=True).over(w))
            .filter(F.col("event_type") == "purchase")
            .select(
                F.when(
                    F.col("lt").isNotNull()
                    & (F.col("ts_ms") - F.col("lt.t") <= 7 * day),
                    F.col("lt.ch"),
                ).otherwise(F.lit("none")).alias("channel"),
                "cents",
            )
            .groupBy("channel")
            .agg(F.count(F.lit(1)).cast("long").alias("conversions"),
                 F.sum("cents").cast("long").alias("revenue_cents"))
        )

    schema = "user_id LONG, event_id LONG, event_type STRING, ts_ms LONG, cents LONG"
    batches = [
        # batch 1: purchase arrives with only an OLD (out-of-window) view
        f"1,10,view,0,0\n1,20,purchase,{8 * day},500\n",
        # batch 2: a LATE click lands between them -> re-attributes
        f"1,15,click,{7 * day + 1000},0\n",
    ]
    final = _foreachbatch_accumulate_and_apply(
        spark, tmpdirs, schema, batches, attribution)
    got = {r["channel"]: (r["conversions"], r["revenue_cents"]) for r in final}
    assert got == {"click": (1, 500)}


def test_idempotent_batch_sink_survives_replay_and_partial_writes(spark, tmpdirs):
    """Exactly-once file sink semantics under the three failure shapes
    foreachBatch exposes: (1) clean run commits all batches, (2) a
    REPLAYED batch (at-least-once delivery) is detected by its marker
    and skipped — no duplicate rows, (3) an uncommitted partial write
    (crash before the marker: orphan tmp dir AND renamed-but-unmarked
    data) is invisible to read_committed."""
    from test_flink_spark.sinks.files import (
        idempotent_batch_sink,
        read_committed,
    )

    out = str(tmpdirs / "sink")
    sink = idempotent_batch_sink(out)
    src = tmpdirs / "src"
    src.mkdir()
    (src / "b1.csv").write_text("1,10\n2,20\n")
    q = (
        spark.readStream.schema("k LONG, v LONG").csv(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmpdirs / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        (src / "b2.csv").write_text("3,30\n")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {(r["k"], r["v"]) for r in read_committed(spark, out).collect()}
    assert rows == {(1, 10), (2, 20), (3, 30)}

    # (2) replay batch 1 verbatim — marker short-circuits, nothing changes
    replay_df = spark.createDataFrame([(3, 30)], "k LONG, v LONG")
    sink(replay_df, 1)
    rows = [(r["k"], r["v"]) for r in read_committed(spark, out).collect()]
    assert sorted(rows) == [(1, 10), (2, 20), (3, 30)], "replay duplicated rows"

    # (3) crash before marker: data renamed into place but unmarked
    import os

    crash_df = spark.createDataFrame([(9, 90)], "k LONG, v LONG")
    crash_df.write.mode("overwrite").parquet(os.path.join(out, "data", "batch-7"))
    crash_df.write.mode("overwrite").parquet(
        os.path.join(out, "data", "batch-8.__tmp"))
    rows = {(r["k"], r["v"]) for r in read_committed(spark, out).collect()}
    assert (9, 90) not in rows, "uncommitted data leaked into reads"
    # recovery: the same batch re-delivered now commits exactly once
    sink(crash_df, 7)
    rows = [r for r in read_committed(spark, out).collect() if r["k"] == 9]
    assert len(rows) == 1


def test_streaming_cep_matches_batch_lead_form(spark, tmpdirs):
    """The applyInPandasWithState strict-sequence matcher must produce
    exactly the batch lead()-window matches on in-order input —
    including a match whose three events SPAN micro-batches (the O(1)
    per-key state carries the partial match across), and an intervening
    event killing a partial match across batches."""
    from test_flink_spark.streaming.cep import streaming_strict_sequence

    src = tmpdirs / "src"
    src.mkdir()
    schema = "user_id LONG, event_id LONG, event_type STRING, ts_ms LONG"
    # u1: view|click in batch 1, purchase in batch 2 -> cross-batch match
    # u2: view,click in batch 1, OTHER in batch 2, purchase in batch 3 -> dead
    (src / "b1.csv").write_text(
        "1,1,view,1000\n1,2,click,2000\n2,1,view,1000\n2,2,click,2000\n")
    raw = spark.readStream.schema(schema).csv(str(src))
    out = streaming_strict_sequence(
        raw, ["view", "click", "purchase"], within_ms=7 * 86_400_000)
    q = (
        out.writeStream.queryName("cep_stream").format("memory")
        .outputMode("append")
        .option("checkpointLocation", str(tmpdirs / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        (src / "b2.csv").write_text("1,3,purchase,3000\n2,3,view,2500\n")
        q.processAllAvailable()
        (src / "b3.csv").write_text("2,4,purchase,3000\n")
        q.processAllAvailable()
        got = {
            (r["key"], r["start_ts_ms"], r["end_ts_ms"])
            for r in spark.table("cep_stream").collect()
        }
    finally:
        q.stop()
    assert got == {(1, 1000, 3000)}, got


def test_streaming_cep_followed_by_first_bind_semantics(spark, tmpdirs):
    """The relaxed (followedBy) streaming matcher must reproduce the
    batch struct-min semantics: every pending view binds the FIRST later
    click, every (view, click) pair the FIRST later purchase — across
    micro-batch boundaries — and a view arriving after that click waits
    for the NEXT click (no re-binding backwards)."""
    from test_flink_spark.streaming.cep import streaming_followed_by

    src = tmpdirs / "src_fb"
    src.mkdir()
    schema = "user_id LONG, event_id LONG, event_type STRING, ts_ms LONG"
    # u1: two views share the first click; purchase lands 2 batches later
    # u2: view | click+later view | purchase -> only the first view matches
    (src / "b1.csv").write_text(
        "1,1,view,1000\n1,2,view,1500\n2,1,view,1000\n")
    raw = spark.readStream.schema(schema).csv(str(src))
    out = streaming_followed_by(
        raw, ["view", "click", "purchase"], within_ms=7 * 86_400_000)
    q = (
        out.writeStream.queryName("cep_fb_stream").format("memory")
        .outputMode("append")
        .option("checkpointLocation", str(tmpdirs / "ckpt_fb"))
        .start()
    )
    try:
        q.processAllAvailable()
        (src / "b2.csv").write_text(
            "1,3,click,2000\n2,2,click,2000\n2,3,view,2500\n")
        q.processAllAvailable()
        (src / "b3.csv").write_text("1,4,purchase,3000\n2,4,purchase,3000\n")
        q.processAllAvailable()
        got = {
            (r["key"], r["start_ts_ms"], r["end_ts_ms"])
            for r in spark.table("cep_fb_stream").collect()
        }
    finally:
        q.stop()
    assert got == {(1, 1000, 3000), (1, 1500, 3000), (2, 1000, 3000)}, got


def test_streaming_hll_register_store_maintained_by_max_merge(spark, tmpdirs):
    """The HLL register table must be maintainable INCREMENTALLY: a
    foreachBatch sink that max-merges each micro-batch's registers into
    a parquet store must end up with exactly the register table (and
    hence the estimate) of a one-shot batch sketch over all data —
    register-max idempotence/associativity under arbitrary batch splits,
    the property that lets a 100 TB stream keep a 256-row running
    sketch instead of raw history."""
    import test_flink_spark.operators.sketch as sk

    src = tmpdirs / "src_hll"
    src.mkdir()
    store = str(tmpdirs / "reg_store")
    schema = "v LONG"
    all_vals = [(i * 977) % 5_000 for i in range(3_000)]

    def merge_batch(bdf, _bid):
        s = bdf.sparkSession
        regs = sk.hll_registers(bdf, "v", [])
        try:
            prev = s.read.parquet(store)
            regs = prev.unionByName(regs)
        except Exception:
            pass
        merged = (
            regs.groupBy("reg")
            .agg(F.max("m_rank").alias("m_rank"))
            .coalesce(1)
        )
        merged.write.mode("overwrite").parquet(store + ".next")
        # atomic-enough swap for the test (the exactly-once parquet sink
        # with commit markers is exercised elsewhere)
        s.read.parquet(store + ".next").coalesce(1).write.mode(
            "overwrite"
        ).parquet(store)

    (src / "b1.csv").write_text("\n".join(str(v) for v in all_vals[:1000]) + "\n")
    raw = spark.readStream.schema(schema).csv(str(src))
    q = (
        raw.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmpdirs / "ckpt_hll"))
        .start()
    )
    try:
        q.processAllAvailable()
        (src / "b2.csv").write_text(
            "\n".join(str(v) for v in all_vals[1000:2200]) + "\n")
        q.processAllAvailable()
        (src / "b3.csv").write_text(
            "\n".join(str(v) for v in all_vals[2200:]) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        (r["reg"], r["m_rank"]) for r in spark.read.parquet(store).collect()
    }
    batch_df = spark.createDataFrame([(v,) for v in all_vals], schema)
    direct = {
        (r["reg"], r["m_rank"])
        for r in sk.hll_registers(batch_df, "v", []).collect()
    }
    assert streamed == direct
    est_stream = sk.hll_fold_registers(
        spark.read.parquet(store).withColumn("g", F.lit(1)), ["g"]
    ).collect()[0]["hll_est"]
    est_direct = sk.hll_distinct(batch_df, "v", []).collect()[0]["hll_est"]
    assert est_stream == est_direct


def test_streaming_cep_matchers_match_reference_on_random_streams(spark, tmpdirs):
    """Randomized differential for BOTH streaming CEP matchers: 40 keys
    × random event sequences (with gaps exceeding within()) split at
    random per-key points into 3 micro-batches must reproduce an
    INDEPENDENT O(n²) reference of the semantics — strict: 3 consecutive
    events match the pattern inside the bound; relaxed: each view binds
    the first later click, then the first later purchase, bound checked
    at the purchase.  Exercises cross-batch state carry, frontier expiry
    and kill-events far beyond the handcrafted cases."""
    import random

    from test_flink_spark.streaming.cep import (
        streaming_followed_by,
        streaming_strict_sequence,
    )

    rng = random.Random(20260814)
    within = 5_000
    types = ["view", "click", "purchase", "other"]
    per_user = {}
    for u in range(1, 41):
        n = rng.randrange(5, 31)
        ts, seq = 0, []
        for i in range(n):
            ts += rng.choice([10, 100, 900, 2_000, 6_000])
            seq.append((u, i + 1, rng.choice(types), ts))
        per_user[u] = seq

    # independent references
    want_strict, want_relaxed = set(), set()
    pat = ["view", "click", "purchase"]
    for u, seq in per_user.items():
        for i in range(len(seq) - 2):
            window = seq[i : i + 3]
            if [e[2] for e in window] == pat and (
                window[2][3] - window[0][3] <= within
            ):
                want_strict.add((u, window[0][3], window[2][3]))
        for i, (_, _, et, vts) in enumerate(seq):
            if et != "view":
                continue
            c = next((e for e in seq[i + 1 :] if e[2] == "click"), None)
            if c is None:
                continue
            ci = seq.index(c)
            p = next((e for e in seq[ci + 1 :] if e[2] == "purchase"), None)
            if p is not None and p[3] - vts <= within:
                want_relaxed.add((u, vts, p[3]))

    # random per-key 3-way batch split, in-order per key
    batches = [[], [], []]
    for u, seq in per_user.items():
        c1 = rng.randrange(0, len(seq) + 1)
        c2 = rng.randrange(c1, len(seq) + 1)
        batches[0].extend(seq[:c1])
        batches[1].extend(seq[c1:c2])
        batches[2].extend(seq[c2:])

    schema = "user_id LONG, event_id LONG, event_type STRING, ts_ms LONG"
    for name, builder, want in (
        ("strict", lambda df: streaming_strict_sequence(df, pat, within),
         want_strict),
        ("relaxed", lambda df: streaming_followed_by(df, pat, within),
         want_relaxed),
    ):
        src = tmpdirs / f"src_prop_{name}"
        src.mkdir()
        (src / "b0.csv").write_text(
            "\n".join(f"{u},{e},{t},{ts}" for u, e, t, ts in batches[0])
            + "\n" if batches[0] else "\n")
        raw = spark.readStream.schema(schema).csv(str(src))
        q = (
            builder(raw)
            .writeStream.queryName(f"cep_prop_{name}")
            .format("memory")
            .outputMode("append")
            .option("checkpointLocation", str(tmpdirs / f"ckpt_prop_{name}"))
            .start()
        )
        try:
            q.processAllAvailable()
            for bi in (1, 2):
                (src / f"b{bi}.csv").write_text(
                    "\n".join(
                        f"{u},{e},{t},{ts}" for u, e, t, ts in batches[bi]
                    )
                    + "\n" if batches[bi] else "\n")
                q.processAllAvailable()
            got = {
                (r["key"], r["start_ts_ms"], r["end_ts_ms"])
                for r in spark.table(f"cep_prop_{name}").collect()
            }
        finally:
            q.stop()
        assert got == want, (
            name,
            sorted(got - want)[:5],
            sorted(want - got)[:5],
        )


def test_streaming_linear_attribution_converges_and_resplits(spark, tmpdirs):
    """Streaming parity for LINEAR multi-touch attribution: a late touch
    must retroactively RE-SPLIT already-attributed credit (1.0 to the
    view becomes 0.5/0.5 once a click lands inside the lookback), with
    the odd-cent remainder going to the click channel — so the operator
    rides the accumulator recompute like last-touch."""
    from pyspark.sql import Window

    day = 86_400_000

    def linear(df):
        wr = (
            Window.partitionBy("user_id")
            .orderBy(F.col("ts_ms").asc())
            .rangeBetween(-7 * day, -1)
        )
        p = (
            df.withColumn(
                "nv",
                F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).over(wr),
            )
            .withColumn(
                "nc",
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).over(wr),
            )
            .filter(F.col("event_type") == "purchase")
            .select(
                "cents",
                F.coalesce("nv", F.lit(0)).cast("long").alias("nv"),
                (F.coalesce("nv", F.lit(0)) + F.coalesce("nc", F.lit(0)))
                .cast("long")
                .alias("n"),
            )
            .select(
                "cents", "n",
                F.expr("IF(n = 0, CAST(0 AS BIGINT), nv * 1000000 div n)").alias("view_ppm"),
                F.expr("IF(n = 0, CAST(0 AS BIGINT), cents * nv div n)").alias("view_cents"),
            )
        )
        rows = p.select(
            F.explode(
                F.array(
                    F.struct(F.lit("view").alias("channel"),
                             F.col("view_ppm").alias("ppm"),
                             F.col("view_cents").alias("cr")),
                    F.struct(F.lit("click").alias("channel"),
                             F.expr("IF(n = 0, CAST(0 AS BIGINT), 1000000 - view_ppm)").alias("ppm"),
                             F.expr("IF(n = 0, CAST(0 AS BIGINT), cents - view_cents)").alias("cr")),
                    F.struct(F.lit("none").alias("channel"),
                             F.expr("IF(n = 0, CAST(1000000 AS BIGINT), CAST(0 AS BIGINT))").alias("ppm"),
                             F.expr("IF(n = 0, cents, CAST(0 AS BIGINT))").alias("cr")),
                )
            ).alias("x")
        )
        return rows.groupBy(F.col("x.channel").alias("channel")).agg(
            F.sum("x.ppm").cast("long").alias("credit_ppm"),
            F.sum("x.cr").cast("long").alias("revenue_cents"),
        )

    schema = "user_id LONG, event_id LONG, event_type STRING, ts_ms LONG, cents LONG"
    batches = [
        # purchase (501 cents) with ONE in-window view -> view gets all
        f"1,10,view,{1 * day},0\n1,20,purchase,{8 * day},501\n",
        # late click inside the lookback -> 50/50 re-split, odd cent to click
        f"1,15,click,{7 * day + 1000},0\n",
    ]
    final = _foreachbatch_accumulate_and_apply(
        spark, tmpdirs, schema, batches, linear)
    got = {r["channel"]: (r["credit_ppm"], r["revenue_cents"]) for r in final}
    assert got["view"] == (500_000, 250)
    assert got["click"] == (500_000, 251)
    assert got["none"] == (0, 0)


def test_streaming_ks_drift_converges_to_batch(spark, tmpdirs):
    """Streaming parity for the KS drift monitor: the statistic is a
    global max over CDF differences, so a late value ANYWHERE can move
    both the max and its argmax — the operator rides the foreachBatch
    accumulator recompute.  Batches engineered so the KS location
    MOVES when batch 2 arrives."""
    from pyspark.sql import Window

    def ks(df):
        per_cent = df.groupBy("cents").agg(
            F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("nb"),
        )
        w = Window.orderBy(F.col("cents").asc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
        tot = per_cent.agg(
            F.sum("na").alias("ta"), F.sum("nb").alias("tb")
        ).collect()[0]
        na_t, nb_t = int(tot["ta"]), int(tot["tb"])
        diffed = per_cent.select(
            "cents",
            F.abs(
                F.sum("na").over(w) * F.lit(nb_t)
                - F.sum("nb").over(w) * F.lit(na_t)
            ).alias("diff"),
        )
        return diffed.agg(
            F.max(
                F.struct(F.col("diff").alias("d"), (-F.col("cents")).alias("negc"))
            ).alias("s")
        ).select(
            F.col("s.d").cast("long").alias("d_num"),
            (-F.col("s.negc")).cast("long").alias("ks_at_cents"),
        )

    schema = "arm STRING, cents LONG"
    batches = [
        # arm A low values, arm B high -> max gap at cents=100
        "A,100\nA,100\nB,500\nB,500\n",
        # batch 2 piles B mass BELOW 100 -> gap location and size change
        "B,50\nB,50\nB,50\n",
    ]
    final = _foreachbatch_accumulate_and_apply(spark, tmpdirs, schema, batches, ks)
    all_rows = spark.createDataFrame(
        [("A", 100), ("A", 100), ("B", 500), ("B", 500),
         ("B", 50), ("B", 50), ("B", 50)], schema)
    batch = ks(all_rows).collect()
    assert [r.asDict() for r in final] == [r.asDict() for r in batch]
    # hand check: Na=2, Nb=5. cum at 50: (0,3) -> |0*5-3*2|=6;
    # at 100: (2,3) -> |10-6|=4; at 500: (2,5) -> 0.  Max 6 at cents=50.
    assert final[0]["d_num"] == 6 and final[0]["ks_at_cents"] == 50


def test_streaming_cms_store_maintained_by_sum_merge(spark, tmpdirs):
    """The count-min sketch is SUM-mergeable (counters add), so a
    foreachBatch sink that sum-merges each micro-batch's 4096-row CMS
    table into a parquet store must reproduce, after any batch split,
    exactly the one-shot batch sketch — and therefore identical point
    estimates for the heavy hitters.  The streaming complement of
    `sketch_cms_heavy_hitters`, same shape as the HLL max-merge twin
    above (different merge monoid: + instead of max)."""
    import test_flink_spark.operators.sketch as sk

    src = tmpdirs / "src_cms"
    src.mkdir()
    store = str(tmpdirs / "cms_store")
    schema = "v LONG"
    # skewed values: value k appears ~ (k % 37) times-ish via repetition
    all_vals = [(i * 613) % 500 for i in range(4_000)] + [7] * 300 + [123] * 150

    def merge_batch(bdf, _bid):
        s = bdf.sparkSession
        regs = sk.cms_build(bdf, "v")
        try:
            prev = s.read.parquet(store)
            regs = prev.unionByName(regs)
        except Exception:
            pass
        merged = (
            regs.groupBy("row_i", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .coalesce(1)
        )
        merged.write.mode("overwrite").parquet(store + ".next")
        s.read.parquet(store + ".next").coalesce(1).write.mode(
            "overwrite"
        ).parquet(store)

    (src / "b1.csv").write_text("\n".join(str(v) for v in all_vals[:1500]) + "\n")
    raw = spark.readStream.schema(schema).csv(str(src))
    q = (
        raw.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmpdirs / "ckpt_cms"))
        .start()
    )
    try:
        q.processAllAvailable()
        (src / "b2.csv").write_text(
            "\n".join(str(v) for v in all_vals[1500:3100]) + "\n")
        q.processAllAvailable()
        (src / "b3.csv").write_text(
            "\n".join(str(v) for v in all_vals[3100:]) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        (r["row_i"], r["bucket"], r["cnt"])
        for r in spark.read.parquet(store).collect()
    }
    batch_df = spark.createDataFrame([(v,) for v in all_vals], schema)
    direct = {
        (r["row_i"], r["bucket"], r["cnt"])
        for r in sk.cms_build(batch_df, "v").collect()
    }
    assert streamed == direct and len(direct) > 0

    cand = batch_df.groupBy("v").count().orderBy(
        F.col("count").desc(), F.col("v").asc()
    ).limit(5).select("v")
    est_stream = {
        (r["v"], r["cms_est"])
        for r in sk.cms_estimate(spark.read.parquet(store), cand, "v").collect()
    }
    est_direct = {
        (r["v"], r["cms_est"])
        for r in sk.cms_estimate(sk.cms_build(batch_df, "v"), cand, "v").collect()
    }
    assert est_stream == est_direct
    # the two heavy injected keys must estimate at >= their true counts
    # (CMS never underestimates)
    ests = dict(est_direct)
    assert ests.get(7, 0) >= 300 and ests.get(123, 0) >= 150


def test_streaming_seasonal_decompose_converges_to_batch(spark, tmpdirs):
    """Streaming parity for the STL-lite decomposition: hourly cells and
    both window passes need the full per-key history (a late hour
    changes its day's mean and therefore EVERY hod's seasonal term), so
    it runs through the accumulate-recompute harness.  Batches arrive
    out of order across days; the final emission must equal the batch
    operator over the union."""
    from test_flink_spark.operators.timeseries import seasonal_decompose_hod

    schema = "k STRING, ms LONG"
    H = 3600000
    rows = []
    # 3 days x 24 hours with a deterministic daily shape + trend for two keys
    for d in range(3):
        for h in range(24):
            n = 1 + (h % 6) + d  # shape repeats per day, level drifts
            rows += [("a", (d * 24 + h) * H + i) for i in range(n)]
            rows += [("b", (d * 24 + h) * H + 7 * i) for i in range(2 + (h % 3))]
    # split interleaved (day 2 partially in batch 1 — out of order)
    b1 = [r for i, r in enumerate(rows) if i % 3 != 0]
    b2 = [r for i, r in enumerate(rows) if i % 3 == 0]
    fmt = lambda rs: "\n".join(f"{k},{ms}" for k, ms in rs) + "\n"

    final = _foreachbatch_accumulate_and_apply(
        spark, tmpdirs, schema, [fmt(b1), fmt(b2)],
        lambda df: seasonal_decompose_hod(df, "k", "ms"),
    )
    batch_df = spark.createDataFrame(rows, schema)
    expect = {
        tuple(r) for r in seasonal_decompose_hod(batch_df, "k", "ms").collect()
    }
    assert {tuple(r) for r in final} == expect and len(expect) == 48


def test_streaming_simhash_clusters_converge_to_batch(spark, tmpdirs):
    """Streaming parity for simhash_clusters: cluster membership is
    retroactive (a late near-duplicate can join — or bridge — existing
    clusters), so the streaming twin is the accumulator recompute, and
    the final emission must equal the batch operator over the union of
    all batches.  Batch 1 establishes two exact-dup clusters; batch 2's
    late arrivals join the FIRST cluster and add a singleton."""
    from test_flink_spark.operators.dedup import simhash_clusters

    schema = "doc_id LONG, text STRING"
    x = "alpha beta gamma delta epsilon"
    y = "one two three four five six"
    batches = [
        f'1,"{x}"\n2,"{x}"\n3,"{y}"\n4,"{y}"\n',
        f'5,"{x}"\n6,"zeta eta theta iota kappa"\n',
    ]
    final = _foreachbatch_accumulate_and_apply(
        spark, tmpdirs, schema, batches,
        lambda df: simhash_clusters(df).orderBy("doc_id"),
    )
    all_rows = spark.createDataFrame(
        [(1, x), (2, x), (3, y), (4, y), (5, x),
         (6, "zeta eta theta iota kappa")],
        schema,
    )
    batch = simhash_clusters(all_rows).orderBy("doc_id").collect()
    assert [r.asDict() for r in final] == [r.asDict() for r in batch]
    got = {r["doc_id"]: r["cluster_id"] for r in final}
    # exact dups share a cluster rooted at the min id; late doc 5 joined
    # cluster 1 retroactively; doc 6 stays a singleton
    assert got[1] == got[2] == got[5] == 1
    assert got[3] == got[4] == 3
    assert got[6] == 6


@pytest.mark.parametrize("boundary", ["inclusive", "flink"])
def test_streaming_cep_within_timeouts_match_reference(spark, tmpdirs, boundary):
    """Randomized differential for the timeout-emitting matcher, in BOTH
    boundary modes (r8 verdict item 3): the match rows AND the per-stage
    timed-out partials must reproduce an independent O(n²) reference of
    within() semantics (timeout1 = no click inside the horizon, timeout2
    = click bound but no purchase in time), across random 3-way
    micro-batch splits.  'inclusive' = this engine's convention (the
    boundary instant still binds); 'flink' = the NFA expiry
    ``timestamp - startTimestamp >= windowTime``.  Step deltas include
    2_500 so cumulative gaps hit EXACTLY the 5_000 horizon and the two
    modes genuinely diverge on this fixture (asserted).  A final flush
    event per key past every horizon drains the frontier — the role the
    event-time timer plays on unbounded input."""
    import random

    from test_flink_spark.streaming.cep import (
        streaming_followed_by_with_timeouts,
    )

    rng = random.Random(20260815)
    within = 5_000
    types = ["view", "click", "purchase", "other"]
    per_user = {}
    max_ts = 0
    for u in range(1, 26):
        n = rng.randrange(5, 31)
        ts, seq = 0, []
        for i in range(n):
            ts += rng.choice([10, 100, 900, 2_000, 2_500, 6_000])
            seq.append((u, i + 1, rng.choice(types), ts))
        per_user[u] = seq
        max_ts = max(max_ts, ts)

    def reference(mode):
        # inclusive: an event at exactly start+within still binds;
        # flink: it is already timed out
        cut = within if mode == "inclusive" else within - 1
        want = set()
        for u, seq in per_user.items():
            for i, (_, _, et, vts) in enumerate(seq):
                if et != "view":
                    continue
                c = next((e for e in seq[i + 1 :] if e[2] == "click"), None)
                if c is None or c[3] - vts > cut:
                    want.add((u, "timeout1", vts, vts + within))
                    continue
                ci = seq.index(c)
                p = next(
                    (e for e in seq[ci + 1 :] if e[2] == "purchase"), None
                )
                if p is None or p[3] - vts > cut:
                    want.add((u, "timeout2", vts, c[3]))
                else:
                    want.add((u, "match", vts, p[3]))
        return want

    want = reference(boundary)
    # the fixture must make the modes distinguishable, or the flink run
    # proves nothing beyond the inclusive one
    assert reference("inclusive") != reference("flink")

    batches = [[], [], []]
    for u, seq in per_user.items():
        c1 = rng.randrange(0, len(seq) + 1)
        c2 = rng.randrange(c1, len(seq) + 1)
        batches[0].extend(seq[:c1])
        batches[1].extend(seq[c1:c2])
        batches[2].extend(seq[c2:])
    flush = [
        (u, 10_000, "other", max_ts + within + 1) for u in per_user
    ]

    schema = "user_id LONG, event_id LONG, event_type STRING, ts_ms LONG"
    src = tmpdirs / f"src_within_{boundary}"
    src.mkdir()
    (src / "b0.csv").write_text(
        "\n".join(f"{u},{e},{t},{ts}" for u, e, t, ts in batches[0]) + "\n"
        if batches[0]
        else "\n"
    )
    raw = spark.readStream.schema(schema).csv(str(src))
    q = (
        streaming_followed_by_with_timeouts(
            raw, ["view", "click", "purchase"], within, boundary=boundary
        )
        .writeStream.queryName(f"cep_within_stream_{boundary}")
        .format("memory")
        .outputMode("append")
        .option("checkpointLocation", str(tmpdirs / f"ckpt_within_{boundary}"))
        .start()
    )
    try:
        q.processAllAvailable()
        for bi, rows_b in ((1, batches[1]), (2, batches[2]), (3, flush)):
            (src / f"b{bi}.csv").write_text(
                "\n".join(f"{u},{e},{t},{ts}" for u, e, t, ts in rows_b)
                + "\n"
                if rows_b
                else "\n"
            )
            q.processAllAvailable()
        got = {
            (r["key"], r["kind"], r["start_ts_ms"], r["end_ts_ms"])
            for r in spark.table(f"cep_within_stream_{boundary}").collect()
        }
    finally:
        q.stop()
    assert got == want, (
        f"{len(got - want)} spurious / {len(want - got)} missing; "
        f"sample spurious={sorted(got - want)[:4]} "
        f"missing={sorted(want - got)[:4]}"
    )


@pytest.mark.parametrize(
    "boundary,want",
    [
        # click lands at EXACTLY start+within: inclusive binds it (then
        # the purchase at +6000 is late -> stage-2 timeout); flink
        # expires the partial before the bind -> stage-1 timeout
        ("inclusive", {(1, "timeout2", 0, 5_000)}),
        ("flink", {(1, "timeout1", 0, 5_000)}),
    ],
)
def test_cep_boundary_timestamp_pinned(spark, tmpdirs, boundary, want):
    """One pinned boundary-timestamp case per mode: view@0, click@5000,
    purchase@6000, within=5000 — the single instant where the two
    conventions disagree, spelled out as data."""
    from test_flink_spark.streaming.cep import (
        streaming_followed_by_with_timeouts,
    )

    rows = [(1, 1, "view", 0), (1, 2, "click", 5_000), (1, 3, "purchase", 6_000),
            (1, 4, "other", 99_999)]
    schema = "user_id LONG, event_id LONG, event_type STRING, ts_ms LONG"
    src = tmpdirs / f"src_pin_{boundary}"
    src.mkdir()
    (src / "b0.csv").write_text(
        "\n".join(f"{u},{e},{t},{ts}" for u, e, t, ts in rows) + "\n"
    )
    raw = spark.readStream.schema(schema).csv(str(src))
    q = (
        streaming_followed_by_with_timeouts(
            raw, ["view", "click", "purchase"], 5_000, boundary=boundary
        )
        .writeStream.queryName(f"cep_pin_{boundary}")
        .format("memory")
        .outputMode("append")
        .option("checkpointLocation", str(tmpdirs / f"ckpt_pin_{boundary}"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["key"], r["kind"], r["start_ts_ms"], r["end_ts_ms"])
            for r in spark.table(f"cep_pin_{boundary}").collect()
        }
    finally:
        q.stop()
    assert got == want


def test_streaming_cep_branching_matches_reference(spark, tmpdirs):
    """Randomized differential for the OR-step branching matcher
    (streaming/cep.py::streaming_branching, the streaming twin of
    events_cep_branching): 40 keys × random sequences over FIVE event
    types split into 3 micro-batches must reproduce an independent
    O(n²) reference — each view binds the FIRST later click-OR-signup
    (remembering which branch fired), then the first purchase after
    that, within() checked view→purchase.  Exercises cross-batch state
    carry of the branch attribution and frontier expiry."""
    import random

    from test_flink_spark.streaming.cep import streaming_branching

    rng = random.Random(20260815)
    within = 5_000
    types = ["view", "click", "signup", "purchase", "other"]
    per_user = {}
    for u in range(1, 41):
        n = rng.randrange(5, 31)
        ts, seq = 0, []
        for i in range(n):
            ts += rng.choice([10, 100, 900, 2_000, 6_000])
            seq.append((u, i + 1, rng.choice(types), ts))
        per_user[u] = seq

    want = set()
    for u, seq in per_user.items():
        for i, (_, _, et, vts) in enumerate(seq):
            if et != "view":
                continue
            mid = next(
                (e for e in seq[i + 1 :] if e[2] in ("click", "signup")), None
            )
            if mid is None:
                continue
            mi = seq.index(mid)
            p = next((e for e in seq[mi + 1 :] if e[2] == "purchase"), None)
            if p is not None and p[3] - vts <= within:
                want.add((u, mid[2], vts, p[3]))

    batches = [[], [], []]
    for u, seq in per_user.items():
        c1 = rng.randrange(0, len(seq) + 1)
        c2 = rng.randrange(c1, len(seq) + 1)
        batches[0].extend(seq[:c1])
        batches[1].extend(seq[c1:c2])
        batches[2].extend(seq[c2:])

    schema = "user_id LONG, event_id LONG, event_type STRING, ts_ms LONG"
    src = tmpdirs / "src_branching"
    src.mkdir()
    (src / "b0.csv").write_text(
        "\n".join(f"{u},{e},{t},{ts}" for u, e, t, ts in batches[0]) + "\n"
        if batches[0]
        else "\n"
    )
    raw = spark.readStream.schema(schema).csv(str(src))
    q = (
        streaming_branching(
            raw, "view", ["click", "signup"], "purchase", within
        )
        .writeStream.queryName("cep_branching")
        .format("memory")
        .outputMode("append")
        .option("checkpointLocation", str(tmpdirs / "ckpt_branching"))
        .start()
    )
    try:
        q.processAllAvailable()
        for bi in (1, 2):
            (src / f"b{bi}.csv").write_text(
                "\n".join(f"{u},{e},{t},{ts}" for u, e, t, ts in batches[bi])
                + "\n"
                if batches[bi]
                else "\n"
            )
            q.processAllAvailable()
        got = {
            (r["key"], r["branch"], r["start_ts_ms"], r["end_ts_ms"])
            for r in spark.table("cep_branching").collect()
        }
    finally:
        q.stop()
    assert got == want, (sorted(got - want)[:5], sorted(want - got)[:5])
    # both branches must actually occur, or the differential is vacuous
    assert {b for _, b, _, _ in want} == {"click", "signup"}


def test_streaming_cluster_ingest_matches_batch_cc(spark, tmpdirs):
    """Streaming incremental CLUSTERING (streaming/cluster_ingest.py):
    three micro-batches through foreachBatch must leave persisted labels
    IDENTICAL to the batch connected-components over the union of all
    docs — including a batch whose single new document BRIDGES two
    existing clusters, forcing a retroactive relabel of old docs (the
    case per-doc state stores cannot express).  Edge rule is
    ngram_jaccard_pairs' own cut, so the comparison is bit-equal, not
    approximate."""
    from test_flink_spark.operators.dedup import ngram_jaccard_pairs
    from test_flink_spark.operators.graph import min_label_components
    from test_flink_spark.streaming.cluster_ingest import (
        streaming_cluster_ingest,
    )

    a = "alpha beta gamma delta epsilon zeta"
    b = "one two three four five six"
    c = "red green blue yellow purple orange"
    bridge = f"{a} {b}"  # J(bridge, a) = J(bridge, b) = 4/10 >= 0.3
    batches = [
        [(1, a), (2, a), (10, b), (11, b), (20, c)],
        [(3, a)],
        [(15, bridge)],
    ]
    threshold = 0.3

    schema = "doc_id LONG, text STRING"
    src = tmpdirs / "src_cluster_ingest"
    src.mkdir()
    state = tmpdirs / "cluster_state"

    def write_batch(i):
        (src / f"b{i}.csv").write_text(
            "\n".join(f'{d},"{t}"' for d, t in batches[i]) + "\n"
        )

    write_batch(0)
    raw = spark.readStream.schema(schema).csv(str(src))
    q = streaming_cluster_ingest(
        raw,
        str(state),
        str(tmpdirs / "ckpt_cluster_ingest"),
        threshold=threshold,
    )
    try:
        q.processAllAvailable()
        for i in (1, 2):
            write_batch(i)
            q.processAllAvailable()
    finally:
        q.stop()

    got_v2 = {
        r["doc_id"]: r["cluster_id"]
        for r in read_batch(spark, str(state / "labels"), 2).collect()
    }
    union = spark.createDataFrame(
        [r for batch in batches for r in batch], schema
    )
    edges = ngram_jaccard_pairs(union, threshold=threshold).select(
        "id_a", "id_b"
    )
    want = {
        r["doc_id"]: r["cluster_id"]
        for r in min_label_components(
            edges, union.select("doc_id"), "doc_id"
        ).collect()
    }
    assert got_v2 == want
    # the bridge batch must have RELABELED the second cluster: before
    # batch 2, docs 10/11 rooted at 10; after, everything roots at 1
    got_v1 = {
        r["doc_id"]: r["cluster_id"]
        for r in read_batch(spark, str(state / "labels"), 1).collect()
    }
    assert got_v1[10] == got_v1[11] == 10 and got_v1[1] == got_v1[3] == 1
    assert got_v2[10] == got_v2[11] == got_v2[15] == 1
    assert got_v2[20] == 20


def test_streaming_substring_check_matches_batch_detector(spark, tmpdirs):
    """Streaming substring-dedup ingest (streaming/substring_dedup.py):
    three micro-batches probed against the growing anchor index must
    emit exactly the cross-batch pairs the BATCH detector
    (duplicate_substrings) finds over the union — same pair set, same
    longest-match geometry.  Doc ids ascend with arrival order, so the
    batch detector's (id_a < id_b) pairs map to (dup_of=id_a,
    doc_id=id_b); same-batch duplicates are deliberately absent (the
    probe checks arrivals against PRIOR state only — the batch twin's
    in-batch pairs are streaming_minhash-style same-batch work)."""
    from pyspark.sql import functions as F

    from test_flink_spark.operators.span_dedup import duplicate_substrings
    from test_flink_spark.streaming.substring_dedup import (
        streaming_substring_check,
    )

    dup = "zeta eta theta iota kappa lam mu nu"  # 8 tokens
    batches = [
        [(1, f"a1 a2 a3 a4 a5 {dup} x1 x2"), (2, "b1 b2 b3 b4 b5 b6 b7 b8")],
        [(10, f"{dup} y1 y2 y3")],          # dup of 1 at the start edge
        [(20, f"c1 c2 {dup}"), (21, "d1 d2 d3 d4 d5 d6 d7 d8")],  # dup of 1 AND 10
    ]
    schema = "doc_id LONG, text STRING"
    src = tmpdirs / "src_substring"
    src.mkdir()
    state = tmpdirs / "substring_state"

    def write_batch(i):
        (src / f"b{i}.csv").write_text(
            "\n".join(f'{d},"{t}"' for d, t in batches[i]) + "\n"
        )

    write_batch(0)
    raw = spark.readStream.schema(schema).csv(str(src))
    q = streaming_substring_check(
        raw, str(state), str(tmpdirs / "ckpt_substring")
    )
    try:
        q.processAllAvailable()
        for i in (1, 2):
            write_batch(i)
            q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["doc_id"], r["dup_of"], r["len_tokens"], r["start_new"], r["start_corpus"])
        for r in read_marked(spark, str(state / "hits")).collect()
    }
    union = spark.createDataFrame([r for b in batches for r in b], schema)
    want = {
        (r["id_b"], r["id_a"], r["len_tokens"], r["start_b"], r["start_a"])
        for r in duplicate_substrings(union).collect()
    }
    assert got == want
    # the fixture actually exercised index growth: doc 20 matched BOTH
    # the original and the batch-1 arrival
    assert {(d, o) for d, o, *_ in got} == {(10, 1), (20, 1), (20, 10)}


def test_substring_check_tie_break_matches_batch_detector(spark):
    """r8 ADVICE: with TWO equal-longest matches between an arriving doc
    and a corpus doc at different alignments, substring_check_batch must
    pick the same (start_new, start_corpus) the batch detector's
    smaller-id-first tie-break picks (corpus start first, under the
    monotonic-id convention) — the original fixture had no ties, so the
    asymmetry was invisible."""
    from test_flink_spark.operators.span_dedup import (
        duplicate_substrings,
        substring_anchor_index,
        substring_check_batch,
    )

    run_a = "r1 r2 r3 r4 r5 r6"   # 6 tokens = the w+k-1 guarantee floor
    run_b = "s1 s2 s3 s4 s5 s6"
    corpus = [(1, f"p1 p2 {run_a} x1 x2 {run_b}")]
    # arriving doc carries run_b FIRST: the old (start_new-first) order
    # picked run_b's geometry, the batch detector picks run_a's (smaller
    # corpus start)
    arriving = [(10, f"{run_b} q1 {run_a}")]
    schema = "doc_id LONG, text STRING"
    corpus_df = spark.createDataFrame(corpus, schema)
    batch_df = spark.createDataFrame(arriving, schema)

    # the tie is real: the pair has two distinct equal-longest matches
    all_matches = duplicate_substrings(
        spark.createDataFrame(corpus + arriving, schema), per_pair_best=False
    ).collect()
    longest = max(r["len_tokens"] for r in all_matches)
    assert (
        len(
            {
                (r["start_a"], r["start_b"])
                for r in all_matches
                if r["len_tokens"] == longest
            }
        )
        >= 2
    )

    got = {
        (r["doc_id"], r["dup_of"], r["len_tokens"], r["start_new"], r["start_corpus"])
        for r in substring_check_batch(
            batch_df, substring_anchor_index(corpus_df)
        ).collect()
    }
    want = {
        (r["id_b"], r["id_a"], r["len_tokens"], r["start_b"], r["start_a"])
        for r in duplicate_substrings(
            spark.createDataFrame(corpus + arriving, schema)
        ).collect()
    }
    assert got == want


def test_substring_ingest_rejects_param_mismatch(spark, tmpdirs):
    """r8 ADVICE: anchor ctx slices are baked at index-build time, so a
    probe with a different (k, w, ext) must ERROR, not silently truncate
    extensions.  The first batch records _PARAMS.json; a later batch with
    a larger ext raises."""
    import pytest

    from test_flink_spark.streaming.substring_dedup import (
        substring_ingest_batch,
    )

    state = tmpdirs / "substring_params_state"
    docs = spark.createDataFrame(
        [(1, "a1 a2 a3 a4 a5 a6 a7 a8")], "doc_id LONG, text STRING"
    )
    substring_ingest_batch(docs, str(state), 0, k=3, w=4, ext=10)
    with pytest.raises(ValueError, match=r"\(k, w, ext\) must match"):
        substring_ingest_batch(
            spark.createDataFrame([(2, "b1 b2 b3")], "doc_id LONG, text STRING"),
            str(state),
            1,
            k=3,
            w=4,
            ext=12,
        )


def test_cluster_ingest_backfill_resumes_after_partial_write(spark, tmpdirs):
    """The shingle shard is committed before the labels.  A backfill call
    that crashed before marking its shard leaves only unmarked shard
    data; the retry must ignore it (no double-counted shingles), replace
    it, and produce labels equal to the batch CC over the union."""
    from test_flink_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_hashes,
    )
    from test_flink_spark.operators.graph import min_label_components
    from test_flink_spark.streaming.cluster_ingest import cluster_ingest_batch

    state = tmpdirs / "cluster_backfill_state"
    schema = "doc_id LONG, text STRING"
    a = "alpha beta gamma delta epsilon zeta"
    batch0 = spark.createDataFrame([(1, a), (2, a)], schema)
    batch1 = spark.createDataFrame([(3, a)], schema)

    cluster_ingest_batch(batch0, str(state), batch_id=None)
    # simulate the crash: batch 1's shingle shard landed unmarked
    shingle_hashes(batch1, "text", "doc_id", 3).write.mode("overwrite").parquet(
        batch_dir(str(state / "shingles"), 1)
    )
    # retry the backfill call — the orphan shard must not leak into
    # prior state (it holds the SAME docs this batch delivers)
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in cluster_ingest_batch(batch1, str(state), batch_id=None).collect()
    }
    union = batch0.unionByName(batch1)
    edges = ngram_jaccard_pairs(union, threshold=0.5).select("id_a", "id_b")
    want = {
        (r["doc_id"], r["cluster_id"])
        for r in min_label_components(
            edges, union.select("doc_id"), "doc_id"
        ).collect()
    }
    assert got == want == {(1, 1), (2, 1), (3, 1)}


def test_cluster_ingest_cap_creation_time_semantics(spark, tmpdirs):
    """max_doc_freq on the streaming ingest is CURRENT-VIEW: a shingle
    over the cap stops generating new candidates and leaves the Jaccard
    sets, but pairs admitted while it was under the cap keep their
    cluster effect (creation-time semantics).  Fixture: batch 0 delivers
    an identical pair (df = 2 <= cap), batch 1 delivers two more copies
    pushing df to 4 > cap — the newcomers must NOT pair (their only
    shingles are hot now) while the existing cluster persists.  The
    capped BATCH recompute over the union drops the end-state-hot
    shingles retroactively and sees only singletons — exactly the
    documented divergence between the two semantics."""
    from test_flink_spark.operators.dedup import duplicate_clusters
    from test_flink_spark.streaming.cluster_ingest import cluster_ingest_batch

    state = tmpdirs / "cluster_cap_state"
    schema = "doc_id LONG, text STRING"
    a = "alpha beta gamma delta epsilon zeta"
    cluster_ingest_batch(
        spark.createDataFrame([(1, a), (2, a)], schema),
        str(state),
        batch_id=None,
        max_doc_freq=2,
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in cluster_ingest_batch(
            spark.createDataFrame([(3, a), (4, a)], schema),
            str(state),
            batch_id=None,
            max_doc_freq=2,
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 3), (4, 4)}
    union = spark.createDataFrame([(i, a) for i in (1, 2, 3, 4)], schema)
    batch_capped = {
        (r["doc_id"], r["cluster_id"])
        for r in duplicate_clusters(union, max_doc_freq=2).collect()
    }
    assert batch_capped == {(1, 1), (2, 2), (3, 3), (4, 4)}


def test_streaming_verdict_ingest_matches_batch(spark, tmpdirs):
    """Streaming incremental RETENTION VERDICTS (r8 verdict item 5,
    streaming/verdict_ingest.py): after EVERY micro-batch the persisted
    snapshot must equal the batch retention_verdicts over the union of
    all docs seen — on a fixture that exercises all three retroactive
    moves only this table exhibits:

    * batch 1 delivers a partial duplicate of doc 1, flipping it
      keep -> trim_spans (the upsert the verdict demanded);
    * batch 2 delivers a 4th document carrying the shared run R, pushing
      R's interior anchor hashes OVER the df cap (max_df=3) — coverage
      previously granted through them is retroactively withdrawn;
    * batch 2 also delivers doc 0, an exact copy of doc 1 with a SMALLER
      id — the canonical steal: doc 1 flips to drop_exact."""
    from test_flink_spark.operators.span_dedup import retention_verdicts
    from test_flink_spark.streaming.verdict_ingest import (
        streaming_dedup_verdicts,
    )

    max_df = 3
    R = " ".join(f"r{i}" for i in range(1, 13))              # 12-token run
    S = " ".join(f"a{i}" for i in range(10, 16))             # doc 1 tokens 10..15
    doc1 = " ".join(f"a{i}" for i in range(1, 41))           # 40 tokens
    doc2 = " ".join(f"b{i}" for i in range(1, 13))
    doc3 = " ".join(f"c{i}" for i in range(1, 13)) + f" {R} " + " ".join(
        f"c{i}" for i in range(13, 25)
    )
    doc4 = " ".join(f"d{i}" for i in range(1, 9)) + f" {R} " + " ".join(
        f"d{i}" for i in range(9, 17)
    )
    doc11 = " ".join(f"e{i}" for i in range(1, 9)) + f" {R} " + " ".join(
        f"e{i}" for i in range(9, 15)
    )
    doc12 = " ".join(f"f{i}" for i in range(1, 15)) + f" {S}"
    doc20 = " ".join(f"g{i}" for i in range(1, 5)) + f" {R} " + " ".join(
        f"g{i}" for i in range(5, 9)
    )
    batches = [
        [(1, doc1), (2, doc2), (3, doc3), (4, doc4)],
        [(10, doc2), (11, doc11), (12, doc12)],
        [(20, doc20), (0, doc1)],
    ]
    schema = "doc_id LONG, text STRING"
    src = tmpdirs / "src_verdicts"
    src.mkdir()
    state = tmpdirs / "verdict_state"

    def write_batch(i):
        (src / f"b{i}.csv").write_text(
            "\n".join(f'{d},"{t}"' for d, t in batches[i]) + "\n"
        )

    write_batch(0)
    raw = spark.readStream.schema(schema).csv(str(src))
    q = streaming_dedup_verdicts(
        raw, str(state), str(tmpdirs / "ckpt_verdicts"), max_df=max_df
    )
    snapshots = {}
    try:
        q.processAllAvailable()
        snapshots[0] = {
            r["doc_id"]: (r["verdict"], r["coverage_bp"], r["is_canonical"])
            for r in read_batch(spark, str(state / "verdicts"), 0).collect()
        }
        for i in (1, 2):
            write_batch(i)
            q.processAllAvailable()
            snapshots[i] = {
                r["doc_id"]: (r["verdict"], r["coverage_bp"], r["is_canonical"])
                for r in read_batch(spark, str(state / "verdicts"), i).collect()
            }
    finally:
        q.stop()

    seen = []
    for i in range(3):
        seen.extend(batches[i])
        union = spark.createDataFrame(seen, schema)
        want = {
            r["doc_id"]: (r["verdict"], r["coverage_bp"], r["is_canonical"])
            for r in retention_verdicts(union, max_df=max_df).collect()
        }
        assert snapshots[i] == want, (
            f"batch {i}: "
            f"{ {d: (snapshots[i].get(d), want.get(d)) for d in set(snapshots[i]) | set(want) if snapshots[i].get(d) != want.get(d)} }"
        )

    # the narrative moves actually happened
    assert snapshots[0][1][0] == "keep" and snapshots[1][1][0] == "trim_spans"
    assert snapshots[1][1][1] == 1500  # 6 of 40 tokens, the exact boundary
    assert snapshots[2][1][0] == "drop_exact"      # canonical steal by doc 0
    assert snapshots[2][0][0] == "drop_dup" and snapshots[2][0][2] == 1
    assert snapshots[1][10][0] == "drop_exact"     # larger-id exact copy
    # the df cap genuinely fired in batch 2: R's interior anchors are
    # carried by all four R-docs
    anch = read_marked(spark, str(state / "anchors"))
    max_seen_df = (
        anch.groupBy("h").count().agg({"count": "max"}).collect()[0][0]
    )
    assert max_seen_df > max_df
    # and coverage granted through them was withdrawn: every R-doc's
    # batch-2 coverage is strictly below its batch-1 value
    for d in (3, 4, 11):
        assert snapshots[2][d][1] < snapshots[1][d][1], (d, snapshots)


def test_verdict_ingest_backfill_resumes_after_partial_write(spark, tmpdirs):
    """verdict_ingest's crash-safety contract: anchor/meta shards and
    interval state are committed before the verdict snapshot.  A
    backfill call that crashed after writing everything but before any
    marker leaves unmarked data the retry must ignore and replace — the
    union anchor state must not double-count the redelivered batch."""
    from test_flink_spark.operators.span_dedup import (
        anchor_contexts,
        retention_verdicts,
    )
    from test_flink_spark.streaming.verdict_ingest import verdict_ingest_batch

    state = tmpdirs / "verdict_backfill_state"
    schema = "doc_id LONG, text STRING"
    doc1 = " ".join(f"a{i}" for i in range(1, 41))
    doc2 = " ".join(f"b{i}" for i in range(1, 13))
    dup = " ".join(f"f{i}" for i in range(1, 15)) + " " + " ".join(
        f"a{i}" for i in range(10, 16)
    )
    batch0 = spark.createDataFrame([(1, doc1), (2, doc2)], schema)
    batch1 = spark.createDataFrame([(10, dup)], schema)

    verdict_ingest_batch(batch0, str(state), batch_id=None)
    # simulate the crash: batch 1's shards AND interval state landed
    # unmarked, the verdict snapshot did not land
    anchor_contexts(batch1, "text", "doc_id", 3, 4, 10).write.mode(
        "overwrite"
    ).parquet(batch_dir(str(state / "anchors"), 1))
    batch1.selectExpr(
        "doc_id",
        "md5(array_join(split(trim(text), '\\\\s+'), ' ')) AS fp",
        "CAST(size(split(trim(text), '\\\\s+')) AS LONG) AS n_tokens",
    ).write.mode("overwrite").parquet(batch_dir(str(state / "meta"), 1))
    spark.createDataFrame(
        [(999, 1, 2, 12345)], "doc_id LONG, s INT, e INT, h LONG"
    ).write.mode("overwrite").parquet(batch_dir(str(state / "intervals"), 1))

    got = {
        r["doc_id"]: (r["verdict"], r["coverage_bp"], r["is_canonical"])
        for r in verdict_ingest_batch(
            batch1, str(state), batch_id=None
        ).collect()
    }
    union = batch0.unionByName(batch1)
    want = {
        r["doc_id"]: (r["verdict"], r["coverage_bp"], r["is_canonical"])
        for r in retention_verdicts(union).collect()
    }
    assert got == want
    # the flip actually happened (the orphan garbage interval is gone)
    assert got[1][0] == "trim_spans" and 999 not in got


def test_verdict_ingest_randomized_differential(spark, tmpdirs):
    """Randomized differential for the incremental verdict maintainer:
    18 documents drawn from a SMALL vocabulary (dense anchor collisions,
    planted shared runs, exact copies) split into 3 batches; after every
    batch the persisted snapshot must equal the batch retention_verdicts
    over the union, at a tight df cap (max_df=4) so hash deaths happen
    organically rather than by construction."""
    import random

    from test_flink_spark.operators.span_dedup import retention_verdicts
    from test_flink_spark.streaming.verdict_ingest import verdict_ingest_batch

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(60)]
    run_a = " ".join(vocab[40:52])   # 12-token planted run
    run_b = " ".join(vocab[20:28])   # 8-token planted run
    docs = []
    for d in range(18):
        n = rng.randrange(12, 35)
        toks = [vocab[rng.randrange(0, 40)] for _ in range(n)]
        text = " ".join(toks)
        r = rng.random()
        if r < 0.3:
            # plant a shared run at a random position
            pos = rng.randrange(0, len(toks))
            text = " ".join(toks[:pos]) + f" {run_a if r < 0.15 else run_b} " + " ".join(toks[pos:])
            text = text.strip()
        elif r < 0.4 and docs:
            text = docs[rng.randrange(0, len(docs))][1]  # exact copy
        docs.append((d, text))
    # guarantee at least one exact-duplicate pair (drop_exact class) —
    # the random copy branch is seed-dependent
    docs[16] = (16, docs[2][1])
    batches = [docs[:6], docs[6:12], docs[12:]]

    state = tmpdirs / "verdict_rand_state"
    schema = "doc_id LONG, text STRING"
    seen = []
    for i, b in enumerate(batches):
        seen.extend(b)
        verdict_ingest_batch(
            spark.createDataFrame(b, schema), str(state), batch_id=i, max_df=4
        )
        got = {
            r["doc_id"]: (r["verdict"], r["coverage_bp"], r["is_canonical"])
            for r in read_batch(spark, str(state / "verdicts"), i).collect()
        }
        want = {
            r["doc_id"]: (r["verdict"], r["coverage_bp"], r["is_canonical"])
            for r in retention_verdicts(
                spark.createDataFrame(seen, schema), max_df=4
            ).collect()
        }
        assert got == want, (
            f"batch {i}: "
            f"{ {d: (got.get(d), want.get(d)) for d in set(got) | set(want) if got.get(d) != want.get(d)} }"
        )
    # the fixture wasn't vacuous: several verdict classes occurred and
    # at least one anchor hash crossed the cap
    assert len({v for v, _, _ in want.values()}) >= 3
    anch = read_marked(spark, str(state / "anchors"))
    assert (
        anch.groupBy("h").count().agg({"count": "max"}).collect()[0][0] > 4
    )


def test_streaming_substring_check_randomized_differential(spark, tmpdirs):
    """Randomized differential for the substring-ingest probe: 12 docs of
    per-doc-unique tokens with planted shared runs (8- and 10-token runs
    in up to 4 docs each, plus a 7-token slice copied between two docs at
    random alignments), split into 3 id-ascending micro-batches — the
    persisted hits must equal the batch detector's cross-batch pairs over
    the union, including the tie-break geometry.  Planted shares stay
    well under the df cap so the one-sided-cap parity precondition holds
    (the capped regime is covered by the verdict maintainer's randomized
    differential, whose cap semantics are two-sided by design)."""
    import random

    from test_flink_spark.operators.span_dedup import duplicate_substrings
    from test_flink_spark.streaming.substring_dedup import (
        streaming_substring_check,
    )

    rng = random.Random(20260815)
    run_a = " ".join(f"ra{i}" for i in range(8))
    run_b = " ".join(f"rb{i}" for i in range(10))
    docs = []
    for d in range(12):
        n = rng.randrange(10, 26)
        toks = [f"d{d}t{i}" for i in range(n)]
        text = " ".join(toks)
        r = rng.random()
        if r < 0.35:
            pos = rng.randrange(0, n)
            run = run_a if r < 0.18 else run_b
            text = (" ".join(toks[:pos]) + f" {run} " + " ".join(toks[pos:])).strip()
        elif r < 0.5 and d >= 2:
            # copy a 7-token slice of an earlier doc's UNIQUE section
            src = rng.randrange(0, d)
            stoks = docs[src][1].split()
            uniq = [t for t in stoks if t.startswith(f"d{src}t")]
            if len(uniq) >= 7:
                s0 = rng.randrange(0, len(uniq) - 6)
                pos = rng.randrange(0, n)
                text = (
                    " ".join(toks[:pos])
                    + " " + " ".join(uniq[s0 : s0 + 7]) + " "
                    + " ".join(toks[pos:])
                ).strip()
        docs.append((d, text))
    batches = [docs[:4], docs[4:8], docs[8:]]
    batch_of = {d: i for i, b in enumerate(batches) for d, _ in b}

    schema = "doc_id LONG, text STRING"
    src_dir = tmpdirs / "src_substring_rand"
    src_dir.mkdir()
    state = tmpdirs / "substring_rand_state"

    def write_batch(i):
        (src_dir / f"b{i}.csv").write_text(
            "\n".join(f'{d},"{t}"' for d, t in batches[i]) + "\n"
        )

    write_batch(0)
    raw = spark.readStream.schema(schema).csv(str(src_dir))
    q = streaming_substring_check(
        raw, str(state), str(tmpdirs / "ckpt_substring_rand")
    )
    try:
        q.processAllAvailable()
        for i in (1, 2):
            write_batch(i)
            q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["doc_id"], r["dup_of"], r["len_tokens"], r["start_new"], r["start_corpus"])
        for r in read_marked(spark, str(state / "hits")).collect()
    }
    union = spark.createDataFrame(docs, schema)
    want = {
        (r["id_b"], r["id_a"], r["len_tokens"], r["start_b"], r["start_a"])
        for r in duplicate_substrings(union).collect()
        if batch_of[r["id_a"]] < batch_of[r["id_b"]]
    }
    assert got == want, (sorted(got - want)[:4], sorted(want - got)[:4])
    # the randomness actually planted cross-batch duplication
    assert len(want) >= 3


def test_streaming_sketch_ingest_matches_batch_hll(spark, tmpdirs):
    """Streaming HLL maintenance (streaming/sketch_ingest.py): three
    micro-batches through foreachBatch must leave a register snapshot
    whose estimator fold is BIT-EQUAL to the batch sketch over the union
    of all rows — including the '__all__' rollup max-merged from the
    per-group sketches — and re-running a batch id must be a no-op
    (retry idempotence)."""
    from test_flink_spark.operators import sketch as sk
    from test_flink_spark.streaming.sketch_ingest import (
        estimates,
        sketch_ingest_batch,
        streaming_sketch_ingest,
    )

    batches = [
        [(u, "view") for u in range(100)] + [(u, "click") for u in range(30)],
        [(u, "view") for u in range(50, 160)],  # 60 new view users
        [(u, "purchase") for u in range(10)] + [(u, "click") for u in range(25, 40)],
    ]
    schema = "user_id LONG, event_type STRING"
    src = tmpdirs / "src_sketch_ingest"
    src.mkdir()
    state = tmpdirs / "sketch_state"

    def write_batch(i):
        (src / f"b{i}.csv").write_text(
            "\n".join(f"{u},{t}" for u, t in batches[i]) + "\n"
        )

    write_batch(0)
    raw = spark.readStream.schema(schema).csv(str(src))
    q = streaming_sketch_ingest(
        raw, str(state), str(tmpdirs / "ckpt_sketch_ingest")
    )
    try:
        q.processAllAvailable()
        for i in (1, 2):
            write_batch(i)
            q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["grp"]: (r["registers_used"], r["hll_est"])
        for r in estimates(spark, str(state)).collect()
    }
    union = spark.createDataFrame(
        [r for batch in batches for r in batch], schema
    )
    regs = sk.hll_registers(union, "user_id", ["event_type"])
    want = {
        r["event_type"]: (r["registers_used"], r["hll_est"])
        for r in sk.hll_fold_registers(regs, ["event_type"]).collect()
    }
    from pyspark.sql import functions as F

    merged = (
        regs.groupBy("reg")
        .agg(F.max("m_rank").alias("m_rank"))
        .withColumn("event_type", F.lit("__all__"))
    )
    want["__all__"] = [
        (r["registers_used"], r["hll_est"])
        for r in sk.hll_fold_registers(merged, ["event_type"]).collect()
    ][0]
    assert got == want
    # retry idempotence: re-folding batch 2's data under its own batch_id
    # must reproduce the same snapshot (reads only state < 2, max forgives
    # the duplicate registers)
    batch2 = spark.createDataFrame(batches[2], schema)
    before = sorted(
        map(tuple, read_batch(spark, str(state / "registers"), 2).collect())
    )
    sketch_ingest_batch(batch2, str(state), batch_id=2)
    after = sorted(
        map(tuple, read_batch(spark, str(state / "registers"), 2).collect())
    )
    assert before == after


def test_sketch_ingest_randomized_split_parity(spark, tmpdirs):
    """Randomized differential for the HLL ingest twin: a seeded random
    stream of (user, type) rows cut at random batch boundaries must fold
    to EXACTLY the batch register table — any-split associativity, the
    property the versioned max-merge relies on."""
    import random

    from test_flink_spark.operators import sketch as sk
    from test_flink_spark.streaming.sketch_ingest import sketch_ingest_batch

    rng = random.Random(20240816)
    rows = [
        (rng.randrange(500), rng.choice(["view", "click", "purchase", "error"]))
        for _ in range(600)
    ]
    cuts = sorted(rng.sample(range(1, len(rows)), 4))
    batches = [
        rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])
    ]
    schema = "user_id LONG, event_type STRING"
    state = tmpdirs / "sketch_rand_state"
    for i, batch in enumerate(batches):
        sketch_ingest_batch(
            spark.createDataFrame(batch, schema), str(state), batch_id=i
        )
    got = sorted(
        map(
            tuple,
            read_batch(spark, str(state / "registers"), len(batches) - 1).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            sk.hll_registers(
                spark.createDataFrame(rows, schema), "user_id", ["event_type"]
            )
            .withColumnRenamed("event_type", "grp")
            .collect(),
        )
    )
    assert got == want


def test_broadcast_rules_processing_time_semantics(spark, tmpdirs):
    """The Flink broadcast-state twin (streaming/broadcast_rules.py):
    per-batch verdicts must replay under the rules snapshot VISIBLE at
    that batch (a mid-stream threshold update and a rule disable change
    only SUBSEQUENT batches — never retroactively), and the final rules
    snapshot must equal the last-writer-wins fold of every rule row."""
    from test_flink_spark.streaming.broadcast_rules import (
        apply_rules_batch,
        rules_ingest_batch,
    )

    state = tmpdirs / "rules_state"
    out = tmpdirs / "rules_out"
    rules_schema = (
        "rule_id LONG, event_type STRING, min_value_cents LONG,"
        " enabled BOOLEAN, seq LONG"
    )
    ev_schema = "event_id LONG, event_type STRING, value DOUBLE"

    # batch 0: r1 flags views >= $0.50, r2 flags clicks >= $1.00
    rules_ingest_batch(
        spark.createDataFrame(
            [(1, "view", 50, True, 1), (2, "click", 100, True, 2)], rules_schema
        ),
        str(state),
        batch_id=0,
    )
    ev0 = [(10, "view", 0.49), (11, "view", 0.50), (12, "click", 2.0)]
    apply_rules_batch(
        spark.createDataFrame(ev0, ev_schema), str(state), str(out), 0
    )
    # batch 1: r1 threshold raised to $2.00, r2 disabled
    rules_ingest_batch(
        spark.createDataFrame(
            [(1, "view", 200, True, 3), (2, "click", 100, False, 4)],
            rules_schema,
        ),
        str(state),
        batch_id=1,
    )
    ev1 = [(20, "view", 0.50), (21, "view", 2.50), (22, "click", 5.0)]
    apply_rules_batch(
        spark.createDataFrame(ev1, ev_schema), str(state), str(out), 1
    )

    got = sorted(
        map(
            tuple,
            read_marked(spark, str(out)).collect(),
        )
    )
    # processing-time semantics: event 11 keeps its v0 verdict; events
    # 20 (below the raised threshold) and 22 (rule disabled) get none
    want = sorted([(11, 1, 0), (12, 2, 0), (21, 1, 1)])
    assert got == want, (got, want)

    final_rules = sorted(
        map(tuple, read_batch(spark, str(state / "rules"), 1).collect())
    )
    assert final_rules == sorted(
        [(1, "view", 200, True, 3), (2, "click", 100, False, 4)]
    )
    # retry idempotence: re-folding batch 1 reproduces the same snapshot
    rules_ingest_batch(
        spark.createDataFrame(
            [(1, "view", 200, True, 3), (2, "click", 100, False, 4)],
            rules_schema,
        ),
        str(state),
        batch_id=1,
    )
    assert final_rules == sorted(
        map(tuple, read_batch(spark, str(state / "rules"), 1).collect())
    )


def test_broadcast_rules_streaming_end_to_end(spark, tmpdirs):
    """The two-query wiring: rules and events arrive as FILE STREAMS; a
    rule update written between event files flips subsequent verdicts.
    (The rules query is drained before each event file lands, so the
    processing-time interleave is deterministic.)"""
    from test_flink_spark.streaming.broadcast_rules import (
        streaming_broadcast_rules,
    )

    rules_src = tmpdirs / "rules_src"
    ev_src = tmpdirs / "ev_src"
    rules_src.mkdir()
    ev_src.mkdir()
    state = tmpdirs / "bs_state"
    out = tmpdirs / "bs_out"

    rules_schema = (
        "rule_id LONG, event_type STRING, min_value_cents LONG,"
        " enabled BOOLEAN, seq LONG"
    )
    ev_schema = "event_id LONG, event_type STRING, value DOUBLE"
    rules_stream = spark.readStream.schema(rules_schema).csv(str(rules_src))
    ev_stream = spark.readStream.schema(ev_schema).csv(str(ev_src))
    rq, eq = streaming_broadcast_rules(
        rules_stream, ev_stream, str(state), str(out), str(tmpdirs / "bs_ckpt")
    )
    try:
        (rules_src / "r0.csv").write_text("1,view,100,true,1\n")
        rq.processAllAvailable()
        (ev_src / "e0.csv").write_text("10,view,0.99\n11,view,1.00\n")
        eq.processAllAvailable()
        (rules_src / "r1.csv").write_text("1,view,50,true,2\n")
        rq.processAllAvailable()
        (ev_src / "e1.csv").write_text("20,view,0.99\n21,view,0.30\n")
        eq.processAllAvailable()
    finally:
        rq.stop()
        eq.stop()

    got = sorted(
        (r["event_id"], r["rule_id"])
        for r in read_marked(spark, str(out)).collect()
    )
    # e0 under the $1.00 rule: only 11; e1 under the lowered $0.50 rule:
    # only 20 (21 is below even the lowered threshold)
    assert got == [(11, 1), (20, 1)], got


def test_side_outputs_exclusive_partitions_the_batch(spark, tmpdirs):
    """Exclusive routing must PARTITION every batch: union of all sinks
    (incl. 'rest') == input with no row in two sinks, first-match wins
    on overlapping predicates, and NULL predicate results route to
    'rest' (not a crash or a silent drop)."""
    from test_flink_spark.streaming.side_outputs import split_batch

    rows = [
        (1, "view", 5.0),
        (2, "error", 1.0),
        (3, "view", 50.0),   # matches both 'big' and 'views' -> 'big' wins
        (4, "click", None),  # NULL value -> predicate NULL -> rest
        (5, "purchase", 9.9),
    ]
    df = spark.createDataFrame(rows, "event_id LONG, event_type STRING, value DOUBLE")
    out = tmpdirs / "so_excl"
    counts = split_batch(
        df,
        str(out),
        0,
        {"big": "value >= 10", "views": "event_type = 'view'",
         "errors": "event_type = 'error'"},
    )
    got = {
        tag: sorted(
            r["event_id"] for r in read_batch(spark, str(out / tag), 0).collect()
        )
        for tag in ("big", "views", "errors", "rest")
    }
    assert got == {"big": [3], "views": [1], "errors": [2], "rest": [4, 5]}
    assert counts == {"big": 1, "views": 1, "errors": 1, "rest": 2}


def test_side_outputs_multi_mode_tags_every_match(spark, tmpdirs):
    """Flink semantics: 'multi' mode emits a row to EVERY matching sink;
    only fully-unmatched rows reach 'rest'."""
    from test_flink_spark.streaming.side_outputs import split_batch

    df = spark.createDataFrame(
        [(1, "view", 50.0), (2, "click", 3.0)],
        "event_id LONG, event_type STRING, value DOUBLE",
    )
    out = tmpdirs / "so_multi"
    split_batch(
        df, str(out), 0,
        {"big": "value >= 10", "views": "event_type = 'view'"},
        mode="multi",
    )
    got = {
        tag: sorted(
            r["event_id"] for r in read_batch(spark, str(out / tag), 0).collect()
        )
        for tag in ("big", "views", "rest")
    }
    assert got == {"big": [1], "views": [1], "rest": [2]}


def test_side_outputs_streaming_late_data_capture(spark, tmpdirs):
    """The canonical Flink use: late rows captured to a side sink
    instead of silently dropped.  Two event files stream through with a
    'late' route (event older than the batch's max ts by > 60 s); the
    late sink holds exactly the stragglers and the main flow the rest —
    and a replayed batch id leaves state identical (retry idempotence)."""
    from test_flink_spark.streaming.side_outputs import (
        split_batch,
        streaming_side_outputs,
    )

    src = tmpdirs / "so_src"
    src.mkdir()
    out = tmpdirs / "so_out"
    schema = "event_id LONG, ts_ms LONG"
    routes = {"late": "batch_max_ts - ts_ms > 60000"}
    stream = spark.readStream.schema(schema).csv(str(src))
    from pyspark.sql import functions as F

    # enrich each batch with its own max ts (the watermark stand-in)
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: split_batch(
                df.withColumn(
                    "batch_max_ts",
                    F.lit(df.agg(F.max("ts_ms")).collect()[0][0]),
                ),
                str(out),
                bid,
                routes,
            )
        )
        .option("checkpointLocation", str(tmpdirs / "so_ckpt"))
        .start()
    )
    try:
        (src / "f0.csv").write_text("1,1000000\n2,1000500\n3,900000\n")
        q.processAllAvailable()
        (src / "f1.csv").write_text("4,2000000\n5,1999000\n6,1000000\n")
        q.processAllAvailable()
    finally:
        q.stop()

    late = sorted(
        r["event_id"]
        for r in read_marked(spark, str(out / "late")).collect()
    )
    main = sorted(
        r["event_id"]
        for r in read_marked(spark, str(out / "rest")).collect()
    )
    assert late == [3, 6] and main == [1, 2, 4, 5]


def test_allowed_lateness_updates_emitted_window(spark, tmpdirs):
    """Flink allowedLateness parity (streaming/late_updates.py): a late-
    but-allowed event UPDATES a window counted two batches earlier; an
    event beyond the bound lands in the late side output and never
    touches the snapshot; the final snapshot equals the batch tumbling
    count over all NON-dropped rows; and replaying a batch id is a
    no-op (retry idempotence via version-before-read)."""
    from test_flink_spark.streaming.late_updates import (
        late_update_batch,
        streaming_late_updates,
    )

    src = tmpdirs / "lu_src"
    src.mkdir()
    state = tmpdirs / "lu_state"
    late = tmpdirs / "lu_late"
    schema = "event_type STRING, ts_ms LONG"
    # window 60 s, lateness 120 s.  Batch 0: two windows (0, 60000).
    # Batch 1 advances the watermark to 240000 and carries one ALLOWED
    # late row for window 60000 (60000 >= 240000-60000-120000 = 60000:
    # boundary-allowed) and one DROPPED row for window 0.
    batches = [
        "view,10000\nview,20000\nclick,70000\n",
        "view,240000\nview,65000\nclick,5000\n",
    ]
    stream = spark.readStream.schema(schema).csv(str(src))
    q = streaming_late_updates(
        stream, str(state), str(late), str(tmpdirs / "lu_ckpt")
    )
    try:
        for i, content in enumerate(batches):
            (src / f"f{i}.csv").write_text(content)
            q.processAllAvailable()
    finally:
        q.stop()

    snap = {
        (r["event_type"], r["win_start"]): r["cnt"]
        for r in read_batch(spark, str(state / "windows"), 1).collect()
    }
    assert snap == {
        ("view", 0): 2,
        ("click", 60000): 1,
        ("view", 60000): 1,   # the late update, two batches after emission
        ("view", 240000): 1,
    }, snap
    dropped = [
        (r["event_type"], r["ts_ms"])
        for r in read_batch(spark, str(late), 1).collect()
    ]
    assert dropped == [("click", 5000)]
    # retry idempotence: re-folding batch 1 reproduces the same snapshot
    b1 = spark.createDataFrame(
        [("view", 240000), ("view", 65000), ("click", 5000)], schema
    )
    late_update_batch(b1, str(state), batch_id=1, late_dir=str(late))
    snap2 = {
        (r["event_type"], r["win_start"]): r["cnt"]
        for r in read_batch(spark, str(state / "windows"), 1).collect()
    }
    assert snap2 == snap


def test_allowed_lateness_randomized_batch_parity(spark, tmpdirs):
    """Randomized differential for the allowed-lateness fold: seeded
    random events with random batch cuts — the final snapshot must equal
    the batch tumbling count over exactly (all rows − late-sink rows)."""
    import random

    from pyspark.sql import functions as F

    from test_flink_spark.streaming.late_updates import late_update_batch

    rng = random.Random(97)
    rows = [
        (rng.choice(["view", "click"]), rng.randrange(0, 600_000))
        for _ in range(400)
    ]
    cuts = sorted(rng.sample(range(1, len(rows)), 5))
    batches = [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]
    schema = "event_type STRING, ts_ms LONG"
    state = tmpdirs / "lur_state"
    late = tmpdirs / "lur_late"
    for i, batch in enumerate(batches):
        late_update_batch(
            spark.createDataFrame(batch, schema),
            str(state),
            batch_id=i,
            late_dir=str(late),
        )
    got = {
        (r["event_type"], r["win_start"]): r["cnt"]
        for r in read_batch(spark, str(state / "windows"), len(batches) - 1).collect()
    }
    late_rows = read_marked(spark, str(late))
    dropped = (
        [(r["event_type"], r["ts_ms"]) for r in late_rows.collect()]
        if late_rows is not None
        else []
    )
    from collections import Counter

    kept = Counter()
    drop_budget = Counter(dropped)  # multiset: duplicates dropped twice count twice
    for t, ms in rows:
        if drop_budget[(t, ms)] > 0:
            drop_budget[(t, ms)] -= 1
            continue
        kept[(t, ms // 60_000 * 60_000)] += 1
    assert got == dict(kept), (got, kept)


def test_snapshot_twins_overwrite_orphan_state(spark, tmpdirs):
    """Crash-resume for the snapshot-only twins (sketch_ingest,
    broadcast_rules, late_updates): a crash before the marker leaves a
    PARTIAL unmarked batch directory; because each fold reads only marked
    batches below its own, the retry ignores the orphan, replaces it and
    reproduces correct state.  Simulated by pre-creating a garbage
    unmarked batch 1."""
    import os

    from test_flink_spark.streaming.broadcast_rules import rules_ingest_batch
    from test_flink_spark.streaming.sketch_ingest import sketch_ingest_batch

    # --- sketch ingest ---
    st1 = tmpdirs / "orphan_sketch"
    ev_schema = "user_id LONG, event_type STRING"
    sketch_ingest_batch(
        spark.createDataFrame([(u, "view") for u in range(50)], ev_schema),
        str(st1),
        batch_id=0,
    )
    orphan = Path(batch_dir(str(st1 / "registers"), 1))
    orphan.mkdir(parents=True)
    (orphan / "part-garbage.parquet").write_bytes(b"not parquet")
    merged = sketch_ingest_batch(
        spark.createDataFrame([(u, "view") for u in range(50, 80)], ev_schema),
        str(st1),
        batch_id=1,
    )
    from test_flink_spark.operators import sketch as sk

    want = sorted(
        map(
            tuple,
            sk.hll_registers(
                spark.createDataFrame(
                    [(u, "view") for u in range(80)], ev_schema
                ),
                "user_id",
                ["event_type"],
            )
            .withColumnRenamed("event_type", "grp")
            .collect(),
        )
    )
    got = sorted(map(tuple, spark.read.parquet(str(orphan)).collect()))
    assert got == want
    assert not os.path.exists(str(orphan / "part-garbage.parquet"))

    # --- broadcast rules ---
    st2 = tmpdirs / "orphan_rules"
    rules_schema = (
        "rule_id LONG, event_type STRING, min_value_cents LONG,"
        " enabled BOOLEAN, seq LONG"
    )
    rules_ingest_batch(
        spark.createDataFrame([(1, "view", 50, True, 1)], rules_schema),
        str(st2),
        batch_id=0,
    )
    orphan2 = Path(batch_dir(str(st2 / "rules"), 1))
    orphan2.mkdir(parents=True)
    (orphan2 / "part-garbage.parquet").write_bytes(b"junk")
    rules_ingest_batch(
        spark.createDataFrame([(1, "view", 75, True, 2)], rules_schema),
        str(st2),
        batch_id=1,
    )
    got2 = sorted(map(tuple, spark.read.parquet(str(orphan2)).collect()))
    assert got2 == [(1, "view", 75, True, 2)]

    # --- late updates (sidecar-gated commit) ---
    # two orphan flavors: a garbage partial dir, and complete parquet
    # (with _SUCCESS) but no _WATERMARK.json sidecar — both unmarked,
    # both must be invisible to the retry and replaced
    from test_flink_spark.streaming.late_updates import late_update_batch

    st3 = tmpdirs / "orphan_late"
    lu_schema = "event_type STRING, ts_ms LONG"
    late_update_batch(
        spark.createDataFrame([("view", 0), ("view", 61_000)], lu_schema),
        str(st3),
        batch_id=0,
    )
    orphan3 = Path(batch_dir(str(st3 / "windows"), 1))
    orphan3.mkdir(parents=True)
    (orphan3 / "part-garbage.parquet").write_bytes(b"junk")
    late_update_batch(
        spark.createDataFrame([("view", 62_000)], lu_schema),
        str(st3),
        batch_id=1,
    )
    got3 = {
        (r["event_type"], r["win_start"]): r["cnt"]
        for r in spark.read.parquet(str(orphan3)).collect()
    }
    assert got3 == {("view", 0): 1, ("view", 60_000): 2}
    # parquet-committed-but-sidecar-less orphan at batch 2: fabricate it
    # by writing real parquet (has _SUCCESS) and withholding the sidecar
    v2 = batch_dir(str(st3 / "windows"), 2)
    spark.createDataFrame([("bogus", 0, 999)], "event_type STRING, win_start LONG, cnt LONG").write.mode(
        "overwrite"
    ).parquet(v2)
    assert os.path.exists(os.path.join(v2, "_SUCCESS"))
    # a batch_id=None backfill must resolve batch 1 as prior (not wedge on
    # the missing _WATERMARK.json), derive batch 2, and repair the orphan
    late_update_batch(
        spark.createDataFrame([("view", 63_000)], lu_schema), str(st3)
    )
    got4 = {
        (r["event_type"], r["win_start"]): r["cnt"]
        for r in read_batch(spark, str(st3 / "windows"), 2).collect()
    }
    assert got4 == {("view", 0): 1, ("view", 60_000): 3}
    assert os.path.exists(os.path.join(v2, "_WATERMARK.json"))


def test_broadcast_rules_uncommitted_snapshot_invisible(spark, tmpdirs):
    """The concurrent-writer race: the rules fold and the event evaluator
    run as separate streaming queries, so the evaluator can list the
    rules root while batch N is mid-write.  Only marked batches are
    read, so an unmarked one is invisible and the batch evaluates under
    the previous committed snapshot instead of crashing on a partial
    directory."""
    import os

    from test_flink_spark.streaming.broadcast_rules import (
        apply_rules_batch,
        rules_ingest_batch,
    )

    state = tmpdirs / "br_race_state"
    out = tmpdirs / "br_race_out"
    rules_schema = (
        "rule_id LONG, event_type STRING, min_value_cents LONG,"
        " enabled BOOLEAN, seq LONG"
    )
    rules_ingest_batch(
        spark.createDataFrame([(1, "view", 100, True, 1)], rules_schema),
        str(state),
        batch_id=0,
    )
    # simulate a concurrent writer mid-flight: batch 1 with data files
    # but no marker (what a reader sees before the commit)
    mid = Path(batch_dir(str(state / "rules"), 1))
    mid.mkdir(parents=True)
    (mid / "part-00000.parquet").write_bytes(b"incomplete")
    apply_rules_batch(
        spark.createDataFrame(
            [(10, "view", 1.50), (11, "view", 0.50)],
            "event_id LONG, event_type STRING, value DOUBLE",
        ),
        str(state),
        str(out),
        batch_id=0,
    )
    rows = sorted(
        map(tuple, read_batch(spark, str(out), 0).collect())
    )
    # evaluated under committed v0 (threshold 100 cents): event 10 only
    assert rows == [(10, 1, 0)]
    assert os.path.exists(str(mid))  # the orphan was not disturbed


def test_broadcast_rules_randomized_interleave_parity(spark, tmpdirs):
    """Randomized differential for the broadcast-state twin: a seeded
    random interleave of rule batches and event batches must produce
    exactly the python replay's verdicts (each event evaluated under the
    last-writer-wins rule state at its batch) and the final snapshot
    must equal the full fold."""
    import random

    from test_flink_spark.streaming.broadcast_rules import (
        apply_rules_batch,
        rules_ingest_batch,
    )

    rng = random.Random(4242)
    rules_schema = (
        "rule_id LONG, event_type STRING, min_value_cents LONG,"
        " enabled BOOLEAN, seq LONG"
    )
    ev_schema = "event_id LONG, event_type STRING, value DOUBLE"
    types = ["view", "click", "purchase"]
    state = tmpdirs / "br_rand_state"
    out = tmpdirs / "br_rand_out"

    rules_state: dict[int, tuple] = {}
    expected = []
    seq = 0
    eid = 0
    rb = 0
    eb = 0
    for _ in range(12):
        if rng.random() < 0.4 or not rules_state:
            batch = []
            for _ in range(rng.randrange(1, 4)):
                seq += 1
                rid = rng.randrange(1, 5)
                row = (
                    rid,
                    rng.choice(types),
                    rng.randrange(0, 500),
                    rng.random() < 0.8,
                    seq,
                )
                batch.append(row)
                rules_state[rid] = row
            rules_ingest_batch(
                spark.createDataFrame(batch, rules_schema), str(state), batch_id=rb
            )
            rb += 1
        else:
            batch = []
            for _ in range(rng.randrange(2, 6)):
                eid += 1
                batch.append((eid, rng.choice(types), rng.randrange(0, 600) / 100))
            apply_rules_batch(
                spark.createDataFrame(batch, ev_schema), str(state), str(out), eb
            )
            for e, t, v in batch:
                for rid, (r_id, r_t, r_min, r_en, _) in rules_state.items():
                    if r_en and r_t == t and round(v * 100) >= r_min:
                        expected.append((e, r_id, rb - 1))
            eb += 1

    got = sorted(
        (r["event_id"], r["rule_id"], r["rules_version"])
        for r in read_marked(spark, str(out)).collect()
    )
    assert got == sorted(expected), (len(got), len(expected))


def test_stats_ingest_fold_equals_direct(spark, tmpdirs):
    """Streaming incremental ANALYZE: per-batch
    partial-stats folds must serve, after EVERY batch, exactly the stats
    a single direct pass over the union computes — HLL NDV bit-equal
    through the shared estimator, min/max/null-count exact against an
    independent aggregate.  Plus retry-idempotence and orphan-crash
    resume (the shared snapshot discipline)."""
    import random

    from pyspark.sql import functions as F

    from test_flink_spark.streaming.stats_ingest import (
        stats,
        stats_ingest_batch,
    )

    rng = random.Random(733)
    schema = "user_id LONG, value_cents LONG"
    rows = [
        (
            rng.randrange(0, 400) if rng.random() > 0.1 else None,
            rng.randrange(-5_000, 50_000) if rng.random() > 0.05 else None,
        )
        for _ in range(900)
    ]
    cuts = sorted(rng.sample(range(1, len(rows)), 3))
    batches = [rows[a:b] for a, b in zip([0] + cuts, cuts + [len(rows)])]
    columns = {"user_id": "user_id", "value_cents": "value_cents"}
    state = tmpdirs / "stats_state"
    for i, batch in enumerate(batches):
        stats_ingest_batch(
            spark.createDataFrame(batch, schema), str(state), columns, batch_id=i
        )
        got = sorted(map(tuple, stats(spark, str(state)).collect()))
        union = spark.createDataFrame(
            [r for b in batches[: i + 1] for r in b], schema
        )
        direct_state = tmpdirs / f"stats_direct_{i}"
        stats_ingest_batch(union, str(direct_state), columns, batch_id=0)
        want = sorted(map(tuple, stats(spark, str(direct_state)).collect()))
        assert got == want, f"fold != direct after batch {i}"
        # min/max/nulls additionally checked EXACT against an
        # independent aggregate (not just fold-vs-fold)
        exact = {
            c: tuple(
                union.agg(
                    F.min(c).cast("long"),
                    F.max(c).cast("long"),
                    F.expr(f"count_if({c} is null)").cast("long"),
                ).collect()[0]
            )
            for c in columns
        }
        assert {t[0]: t[2:] for t in got} == exact

    # retry idempotence: re-fold batch 1 under its own batch_id
    before = sorted(
        map(tuple, read_batch(spark, str(state / "stats"), 1).collect())
    )
    stats_ingest_batch(
        spark.createDataFrame(batches[1], schema), str(state), columns, batch_id=1
    )
    after = sorted(
        map(tuple, read_batch(spark, str(state / "stats"), 1).collect())
    )
    assert before == after

    # orphan crash: a garbage (unmarked) batch dir is invisible and
    # repaired by the next backfill
    orphan = Path(batch_dir(str(state / "stats"), len(batches)))
    orphan.mkdir()
    (orphan / "part-garbage.parquet").write_bytes(b"junk")
    extra = [(9_999, 123_456)]
    stats_ingest_batch(spark.createDataFrame(extra, schema), str(state), columns)
    got = sorted(map(tuple, stats(spark, str(state)).collect()))
    union = spark.createDataFrame(rows + extra, schema)
    direct_state = tmpdirs / "stats_direct_final"
    stats_ingest_batch(union, str(direct_state), columns, batch_id=0)
    want = sorted(map(tuple, stats(spark, str(direct_state)).collect()))
    assert got == want


def test_stats_ingest_streaming_e2e(spark, tmpdirs):
    """End-to-end through a real stream: rate-limited file source ->
    foreachBatch stats fold -> read-side catalog view equals the direct
    pass over everything delivered."""
    import json

    from test_flink_spark.streaming.stats_ingest import (
        stats,
        stats_ingest_batch,
        streaming_stats_ingest,
    )

    src = tmpdirs / "stats_src"
    src.mkdir()
    state = tmpdirs / "stats_e2e_state"
    ckpt = tmpdirs / "stats_e2e_ckpt"
    columns = {"user_id": "user_id", "value_cents": "value_cents"}
    schema = "user_id LONG, value_cents LONG"

    def write_file(i, rows):
        with open(src / f"part{i}.json", "w") as f:
            for u, v in rows:
                f.write(json.dumps({"user_id": u, "value_cents": v}) + "\n")

    write_file(0, [(1, 100), (2, None), (None, 300)])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = streaming_stats_ingest(stream, str(state), str(ckpt), columns)
    try:
        q.processAllAvailable()
        write_file(1, [(3, -50), (1, 100), (4, None)])
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, stats(spark, str(state)).collect()))
    union = spark.createDataFrame(
        [(1, 100), (2, None), (None, 300), (3, -50), (1, 100), (4, None)], schema
    )
    direct_state = tmpdirs / "stats_e2e_direct"
    stats_ingest_batch(union, str(direct_state), columns, batch_id=0)
    want = sorted(map(tuple, stats(spark, str(direct_state)).collect()))
    assert got == want
    assert len(marked(str(state / "stats"))) >= 2


def test_processing_time_tumbling_replay_parity(spark, tmpdirs):
    """Randomized differential for the processing-time twin: a seeded
    random row stream cut at a fixed trigger size must fold to exactly
    the python replay (window = batch_id div W, blind to event time),
    and re-folding a batch under its own id is idempotent."""
    import random
    from collections import Counter

    from test_flink_spark.streaming.processing_time import processing_time_batch

    rng = random.Random(515)
    types = ["view", "click", "purchase", "error"]
    rows = [(rng.choice(types), rng.randrange(0, 10**9)) for _ in range(700)]
    n, w = 100, 3
    batches = [rows[i : i + n] for i in range(0, len(rows), n)]
    schema = "event_type STRING, ts_ms LONG"
    state = tmpdirs / "ptw_state"
    for i, batch in enumerate(batches):
        processing_time_batch(
            spark.createDataFrame(batch, schema), str(state), batch_id=i, win_batches=w
        )
    want = Counter()
    for i, batch in enumerate(batches):
        for t, _ in batch:
            want[(i // w, t)] += 1
    got = {
        (r["win_id"], r["event_type"]): r["cnt"]
        for r in read_batch(spark, str(state / "ptwin"), len(batches) - 1).collect()
    }
    assert got == dict(want)
    # retry idempotence
    processing_time_batch(
        spark.createDataFrame(batches[2], schema), str(state), batch_id=2, win_batches=w
    )
    got2 = {
        (r["win_id"], r["event_type"]): r["cnt"]
        for r in read_batch(spark, str(state / "ptwin"), 2).collect()
    }
    want2 = Counter()
    for i, batch in enumerate(batches[:3]):
        for t, _ in batch:
            want2[(i // w, t)] += 1
    assert got2 == dict(want2)


def test_processing_time_stream_equals_batch_query(spark, tmpdirs):
    """The replay/backfill contract: feeding the sf0.001 events table in
    (ts, event_id) arrival order at _PT_BATCH rows per trigger must make
    the streaming twin's final snapshot EQUAL the registered batch query
    events_processing_time_tumbling over the same table."""
    from test_flink_spark.plans.enterprise import (
        _PT_BATCH,
        _PT_WIN_BATCHES,
        events_processing_time_tumbling,
    )
    from test_flink_spark.schemas import load_table
    from test_flink_spark.streaming.processing_time import processing_time_batch

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events").selectExpr(
        "event_type", "unix_millis(cast(ts as timestamp)) AS ms", "event_id"
    )
    arrivals = [
        (r["event_type"],)
        for r in ev.orderBy("ms", "event_id").select("event_type").collect()
    ]
    state = tmpdirs / "ptw_sf_state"
    batches = [
        arrivals[i : i + _PT_BATCH] for i in range(0, len(arrivals), _PT_BATCH)
    ]
    for i, batch in enumerate(batches):
        processing_time_batch(
            spark.createDataFrame(batch, "event_type STRING"),
            str(state),
            batch_id=i,
            win_batches=_PT_WIN_BATCHES,
        )
    got = sorted(
        map(
            tuple,
            read_batch(spark, str(state / "ptwin"), len(batches) - 1).collect(),
        )
    )
    want = sorted(map(tuple, events_processing_time_tumbling(spark, sf).collect()))
    assert got == want


def test_commit_stage_rename_protocol(spark, tmpdirs):
    """A committed batch must never be rewritten in place.  ``commit``
    writes the parquet and its sidecars under an unlisted name, renames
    them into place and only then marks the batch; a retry of a marked
    batch writes nothing."""
    import os

    from test_flink_spark.sinks.files import commit, read_sidecar

    root = str(tmpdirs / "rules")
    df1 = spark.createDataFrame([(1, "a")], "k LONG, v STRING")
    commit(df1, root, 0, sidecars={"_META.json": {"n": 1}})
    out = batch_dir(root, 0)
    # fully committed on arrival: _SUCCESS and the sidecar both present
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    assert read_sidecar(root, 0, "_META.json") == {"n": 1}
    assert marked(root) == [0]
    # no staging residue next to the batch
    assert os.listdir(os.path.join(root, "data")) == ["batch-0"]

    # a retry of the marked batch leaves it as it was
    files = {f: os.stat(os.path.join(out, f)).st_mtime_ns for f in os.listdir(out)}
    df2 = spark.createDataFrame([(2, "b")], "k LONG, v STRING")
    commit(df2, root, 0)
    assert {f: os.stat(os.path.join(out, f)).st_mtime_ns for f in os.listdir(out)} == files
    assert [tuple(r) for r in read_batch(spark, root, 0).collect()] == [(1, "a")]


def _gdpr_python_audit(rows):
    """Naive replay of the TWIN's semantics over a list of (src, k1, k2)
    arrival records: cohort membership by the stateless md5(custkey) % 32
    predicate on the row itself (NOT via the customer table — the twin
    deliberately counts orders/events whose customer row is still in
    flight; test_gdpr_customer_late_fk_divergence_and_convergence pins
    the divergence from the join-based batch audit and the convergence
    at FK-completeness); lineitem counts only where the order has arrived
    (inner-join semantics, same as the batch query)."""
    import hashlib

    def in_cohort(ck):
        return int(hashlib.md5(str(ck).encode()).hexdigest()[:15], 16) % 32 == 0

    omap = {k1: k2 for src, k1, k2 in rows if src == "orders"}
    agg = {}  # table -> {subject: n}
    for src, k1, k2 in rows:
        if src == "customer" and in_cohort(k1):
            agg.setdefault("customer", {}).setdefault(k1, 0)
            agg["customer"][k1] += 1
        elif src == "orders" and in_cohort(k2):
            agg.setdefault("orders", {}).setdefault(k2, 0)
            agg["orders"][k2] += 1
        elif src == "events" and in_cohort(k1):
            agg.setdefault("events", {}).setdefault(k1, 0)
            agg["events"][k1] += 1
        elif src == "lineitem" and k1 in omap and in_cohort(omap[k1]):
            subj = omap[k1]
            agg.setdefault("lineitem", {}).setdefault(subj, 0)
            agg["lineitem"][subj] += 1
    return {
        t: (sum(d.values()), len(d)) for t, d in agg.items()
    }


def test_gdpr_ingest_interleave_matches_python_replay(spark, tmpdirs):
    """r10 verdict item 6: the governance twin.  A seeded random
    interleave of customer/orders/lineitem/events arrivals — including
    lineitems that arrive BEFORE their order (the pending re-match path)
    — must, after every batch, produce exactly the python replay of the
    batch audit over rows-so-far (inner-join semantics: orphan lineitems
    are excluded by both sides until their order lands)."""
    import random

    from test_flink_spark.streaming.gdpr_ingest import audit, gdpr_ingest_batch

    rng = random.Random(1137)
    state = tmpdirs / "gdpr_state"
    schema = "src STRING, k1 LONG, k2 LONG"

    # synth rows: 200 customers, 150 orders over them, 300 lineitems over
    # the orders (some referencing orders that arrive later), 200 events
    rows = []
    orders = [(1000 + i, rng.randrange(200)) for i in range(150)]
    rows += [("customer", c, None) for c in range(200)]
    rows += [("orders", ok, ck) for ok, ck in orders]
    rows += [("lineitem", orders[rng.randrange(150)][0], None) for _ in range(300)]
    rows += [("events", rng.randrange(200), None) for _ in range(200)]
    rng.shuffle(rows)  # lineitem-before-order interleaves happen

    batches = [rows[i::5] for i in range(5)]
    seen = []
    for bid, batch in enumerate(batches):
        gdpr_ingest_batch(
            spark.createDataFrame(batch, schema), str(state), batch_id=bid
        )
        seen += batch
        got = {
            r["table_name"]: (r["n_rows"], r["n_subjects"])
            for r in audit(spark, str(state)).collect()
        }
        assert got == _gdpr_python_audit(seen), f"parity broke at batch {bid}"


def test_gdpr_ingest_retry_idempotent_and_orphan_resume(spark, tmpdirs):
    """A retried batch must not double-count (a marked batch is never
    rewritten, and the fold reads only marked batches below its own),
    and a crash orphan (a partial unmarked batch dir) must be invisible
    to the retry."""
    from test_flink_spark.streaming.gdpr_ingest import audit, gdpr_ingest_batch

    state = tmpdirs / "gdpr_retry"
    schema = "src STRING, k1 LONG, k2 LONG"
    # custkey 0 is always in the cohort (md5('0') stratum: verified by
    # the replay helper — if not, pick one that is)
    import hashlib

    ck = next(
        c
        for c in range(64)
        if int(hashlib.md5(str(c).encode()).hexdigest()[:15], 16) % 32 == 0
    )
    b0 = [("customer", ck, None), ("orders", 7, ck), ("lineitem", 7, None)]
    b1 = [("lineitem", 7, None), ("events", ck, None)]
    df0 = spark.createDataFrame(b0, schema)
    df1 = spark.createDataFrame(b1, schema)
    gdpr_ingest_batch(df0, str(state), batch_id=0)
    # crash orphan for batch 1: garbage dir, no marker
    orphan = Path(batch_dir(str(state / "gdpr"), 1))
    orphan.mkdir()
    (orphan / "part-garbage.parquet").write_bytes(b"not parquet")
    gdpr_ingest_batch(df1, str(state), batch_id=1)  # replaces the orphan
    want = _gdpr_python_audit(b0 + b1)
    got = {
        r["table_name"]: (r["n_rows"], r["n_subjects"])
        for r in audit(spark, str(state)).collect()
    }
    assert got == want
    # retry batch 1 (foreachBatch redelivery): identical state after
    gdpr_ingest_batch(df1, str(state), batch_id=1)
    got2 = {
        r["table_name"]: (r["n_rows"], r["n_subjects"])
        for r in audit(spark, str(state)).collect()
    }
    assert got2 == want


def test_gdpr_pending_discards_non_cohort_orphans(spark, tmpdirs):
    """Lineitems referencing a SEEN non-cohort order
    must be discarded, not re-queued into pending forever — pending holds
    only truly in-flight orphans, so the snapshot is O(cohort + seen
    orderkeys), never O(ingested lineitems)."""
    import hashlib

    from test_flink_spark.streaming.gdpr_ingest import audit, gdpr_ingest_batch

    def in_cohort(ck):
        return int(hashlib.md5(str(ck).encode()).hexdigest()[:15], 16) % 32 == 0

    non_ck = next(c for c in range(64) if not in_cohort(c))
    state = tmpdirs / "gdpr_pending_bound"
    schema = "src STRING, k1 LONG, k2 LONG"
    # batch 0: a NON-cohort order arrives
    gdpr_ingest_batch(
        spark.createDataFrame([("orders", 900, non_ck)], schema),
        str(state),
        batch_id=0,
    )
    # batches 1..3: lineitems for that order, plus one true orphan (order
    # 901 never arrives)
    for bid in (1, 2, 3):
        gdpr_ingest_batch(
            spark.createDataFrame(
                [("lineitem", 900, None)] * 5 + [("lineitem", 901, None)],
                schema,
            ),
            str(state),
            batch_id=bid,
        )
    snap = read_batch(spark, str(state / "gdpr"), 3)
    pending = {
        (r["k"], r["v"])
        for r in snap.filter(snap.kind == "pending").collect()
    }
    # the 15 non-cohort lineitems are GONE; the 3 true orphans accumulate
    assert pending == {(901, 3)}
    seen = {r["k"] for r in snap.filter(snap.kind == "seen").collect()}
    assert seen == {900}
    # and nothing leaked into the audit
    assert audit(spark, str(state)).count() == 0


def test_gdpr_customer_late_fk_divergence_and_convergence(spark, tmpdirs):
    """r11 ADVICE (low): the orders/events legs decide cohort membership
    with the stateless md5(custkey) predicate on arrival, while the batch
    audit joins through the CUSTOMER table — so an order arriving BEFORE
    its customer row is counted by the twin and excluded by the batch
    query over rows-so-far.  This test pins BOTH halves of that contract:
    the documented mid-stream divergence on an FK-incomplete prefix, and
    exact convergence (against a JOIN-BASED replay of the batch audit)
    the moment the customer row lands."""
    import hashlib

    from test_flink_spark.streaming.gdpr_ingest import audit, gdpr_ingest_batch

    def in_cohort(ck):
        return int(hashlib.md5(str(ck).encode()).hexdigest()[:15], 16) % 32 == 0

    ck = next(c for c in range(64) if in_cohort(c))

    def join_based_audit(rows):
        """The batch gdpr_erasure_audit's semantics, replayed naively:
        cohort = stratum-filtered CUSTOMER rows seen so far; orders,
        events and (via orders) lineitems count only through a join."""
        cust = {k1 for s, k1, k2 in rows if s == "customer" and in_cohort(k1)}
        omap = {k1: k2 for s, k1, k2 in rows if s == "orders"}
        agg = {}

        def add(t, subj):
            agg.setdefault(t, {}).setdefault(subj, 0)
            agg[t][subj] += 1

        for s, k1, k2 in rows:
            if s == "customer" and k1 in cust:
                add("customer", k1)
            elif s == "orders" and k2 in cust:
                add("orders", k2)
            elif s == "events" and k1 in cust:
                add("events", k1)
            elif s == "lineitem" and omap.get(k1) in cust:
                add("lineitem", omap[k1])
        return {t: (sum(d.values()), len(d)) for t, d in agg.items()}

    state = tmpdirs / "gdpr_fk_late"
    schema = "src STRING, k1 LONG, k2 LONG"
    b0 = [("orders", 500, ck), ("lineitem", 500, None), ("events", ck, None)]
    b1 = [("customer", ck, None)]
    gdpr_ingest_batch(spark.createDataFrame(b0, schema), str(state), batch_id=0)
    got0 = {
        r["table_name"]: (r["n_rows"], r["n_subjects"])
        for r in audit(spark, str(state)).collect()
    }
    # twin counts the order/event/lineitem NOW (subject determinable from
    # the row); the batch-join replay sees no cohort yet — the documented
    # FK-incomplete divergence
    assert got0 == {"orders": (1, 1), "lineitem": (1, 1), "events": (1, 1)}
    assert join_based_audit(b0) == {}
    # customer lands: rows-so-far are FK-complete, parity must be exact
    gdpr_ingest_batch(spark.createDataFrame(b1, schema), str(state), batch_id=1)
    got1 = {
        r["table_name"]: (r["n_rows"], r["n_subjects"])
        for r in audit(spark, str(state)).collect()
    }
    assert got1 == join_based_audit(b0 + b1)
    assert got1 == {
        "customer": (1, 1),
        "orders": (1, 1),
        "lineitem": (1, 1),
        "events": (1, 1),
    }


def test_gdpr_ingest_runs_as_streaming_query(spark, tmpdirs):
    """End-to-end over readStream: the foreachBatch wiring
    (streaming_gdpr_audit) folds a file-source CDC stream and the read
    side matches the python replay once the stream drains."""
    import json

    from test_flink_spark.streaming.gdpr_ingest import audit, streaming_gdpr_audit

    src = tmpdirs / "gdpr_src"
    state = tmpdirs / "gdpr_e2e_state"
    ckpt = tmpdirs / "gdpr_e2e_ckpt"
    src.mkdir()
    rows = [
        ("customer", 17, None),  # 17 IS in the md5 % 32 cohort
        ("orders", 70, 17),
        ("lineitem", 70, None),
        ("lineitem", 71, None),  # order 71 never arrives -> stays pending
        ("events", 17, None),
    ]
    with open(src / "b0.json", "w") as f:
        for src_t, k1, k2 in rows:
            f.write(json.dumps({"src": src_t, "k1": k1, "k2": k2}) + "\n")
    stream = spark.readStream.schema("src STRING, k1 LONG, k2 LONG").json(str(src))
    q = streaming_gdpr_audit(stream, str(state), str(ckpt))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["table_name"]: (r["n_rows"], r["n_subjects"])
        for r in audit(spark, str(state)).collect()
    }
    assert got == _gdpr_python_audit(rows)


# ---------------------------------------------------------------------------
# Pins stay constant: every streaming/ module that pins runs its wiring
# over three micro-batches, and the session holds no pin after a batch
# that it did not hold before the stream started.
# ---------------------------------------------------------------------------


def _live_pins(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _doc_rows(i):
    # overlapping word runs: every batch shares shingles and anchors with
    # the earlier ones, so the pair, interval and merge paths all run
    return [
        {"doc_id": 10 * i + j, "text": " ".join(f"t{w}" for w in range(j, j + 14))}
        for j in range(4)
    ]


def _broadcast_rules(fed):
    """Start both broadcast_rules queries and feed the one named by
    ``fed``; the event query is fed after a rules snapshot exists."""

    def start(stream, tmp):
        import json

        from test_flink_spark.streaming.broadcast_rules import streaming_broadcast_rules

        spark, other = stream.sparkSession, tmp / "other"
        other.mkdir(exist_ok=True)  # exists when a test restarts the queries
        if fed == "rules":
            rules, events = stream, spark.readStream.schema(_EV_SCHEMA).json(str(other))
        else:
            rule = {"rule_id": 1, "event_type": "view", "min_value_cents": 100,
                    "enabled": True, "seq": 1}
            if not (other / "r0.json").exists():
                _write_lines(other, "r0.json", [json.dumps(rule)])
            rules, events = spark.readStream.schema(_RULES_SCHEMA).json(str(other)), stream
        rq, eq = streaming_broadcast_rules(
            rules, events, str(tmp / "state"), str(tmp / "out"), str(tmp / "ckpt")
        )
        rq.processAllAvailable()
        return [rq, eq] if fed == "rules" else [eq, rq]

    return start


_RULES_SCHEMA = (
    "rule_id LONG, event_type STRING, min_value_cents LONG, enabled BOOLEAN, seq LONG"
)
_EV_SCHEMA = "event_id LONG, event_type STRING, value DOUBLE"
_DOCS_SCHEMA = "doc_id LONG, text STRING"


def _pin_stream_cases():
    """name -> (schema, rows of micro-batch i, start(stream, tmp) -> the
    started queries, the fed one first)."""
    from test_flink_spark.streaming import (
        cluster_ingest,
        gdpr_ingest,
        late_updates,
        processing_time,
        side_outputs,
        sketch_ingest,
        stats_ingest,
        substring_dedup,
        verdict_ingest,
    )

    def dirs(tmp):
        return str(tmp / "state"), str(tmp / "ckpt")

    return {
        "broadcast_rules_apply": (
            _EV_SCHEMA,
            lambda i: [{"event_id": 10 * i + j, "event_type": "view", "value": 0.5 + j}
                       for j in range(3)],
            _broadcast_rules("events"),
        ),
        "broadcast_rules_fold": (
            _RULES_SCHEMA,
            lambda i: [{"rule_id": j, "event_type": "view", "min_value_cents": 100 * i,
                        "enabled": True, "seq": i} for j in range(2)],
            _broadcast_rules("rules"),
        ),
        "cluster_ingest": (
            _DOCS_SCHEMA,
            _doc_rows,
            lambda s, t: [cluster_ingest.streaming_cluster_ingest(s, *dirs(t))],
        ),
        "gdpr_ingest": (
            "src STRING, k1 LONG, k2 LONG",
            lambda i: [{"src": "customer", "k1": 17, "k2": None},
                       {"src": "orders", "k1": 70 + i, "k2": 17},
                       {"src": "lineitem", "k1": 70 + i, "k2": None},
                       {"src": "lineitem", "k1": 90 + i, "k2": None},
                       {"src": "events", "k1": 17, "k2": None}],
            lambda s, t: [gdpr_ingest.streaming_gdpr_audit(s, *dirs(t))],
        ),
        "late_updates": (
            "event_type STRING, ts_ms LONG",
            # the last batch's first row lies beyond the allowed lateness
            lambda i: [{"event_type": "view", "ts_ms": 300_000 * i - 290_000 * (i == 2)},
                       {"event_type": "cart", "ts_ms": 300_000 * i + 1}],
            lambda s, t: [late_updates.streaming_late_updates(
                s, str(t / "state"), str(t / "late"), str(t / "ckpt"))],
        ),
        "processing_time": (
            "event_type STRING",
            lambda i: [{"event_type": "view"}, {"event_type": f"e{i}"}],
            lambda s, t: [processing_time.streaming_processing_time(
                s, *dirs(t), win_batches=2)],
        ),
        "side_outputs": (
            "k LONG, v LONG",
            lambda i: [{"k": j, "v": i + j} for j in range(3)],
            lambda s, t: [side_outputs.streaming_side_outputs(
                s, *dirs(t), {"big": "v > 1", "odd": "k % 2 = 1"})],
        ),
        "sketch_ingest": (
            "user_id LONG, event_type STRING",
            lambda i: [{"user_id": 10 * i + j, "event_type": "view"} for j in range(4)],
            lambda s, t: [sketch_ingest.streaming_sketch_ingest(s, *dirs(t))],
        ),
        "stats_ingest": (
            "user_id LONG, value_cents LONG",
            lambda i: [{"user_id": i, "value_cents": 100 * i}, {"user_id": None,
                                                                 "value_cents": 5}],
            lambda s, t: [stats_ingest.streaming_stats_ingest(
                s, *dirs(t), {"user_id": "user_id", "value_cents": "value_cents"})],
        ),
        "substring_dedup": (
            _DOCS_SCHEMA,
            _doc_rows,
            lambda s, t: [substring_dedup.streaming_substring_check(s, *dirs(t))],
        ),
        "verdict_ingest": (
            _DOCS_SCHEMA,
            _doc_rows,
            lambda s, t: [verdict_ingest.streaming_dedup_verdicts(s, *dirs(t))],
        ),
    }


def _corpus_jobs(spark, tmp, check):
    """Three corpus_curation_pipeline jobs on their own shards, each
    followed by the benchmark's two session-cache releases."""
    from test_flink_spark.plans import llm_data
    from test_flink_spark.sinks.files import write_parquet

    for i in range(3):
        shard = tmp / f"shard{i}"
        shard.mkdir()
        shutil.copy("/root/testdata/sf0.001/documents.parquet", shard)
        write_parquet(
            llm_data.corpus_curation_pipeline(spark, str(shard)), str(tmp / f"out{i}")
        )
        llm_data.release_pinned_cache(llm_data._CLUSTERS_CACHE)
        llm_data.release_pinned_cache(llm_data._PAIR_BASE_CACHE)
        check()


@pytest.mark.parametrize(
    "case",
    [
        "broadcast_rules_apply",
        "broadcast_rules_fold",
        "cluster_ingest",
        "gdpr_ingest",
        "late_updates",
        "processing_time",
        "side_outputs",
        "sketch_ingest",
        "stats_ingest",
        "substring_dedup",
        "verdict_ingest",
        "corpus_curation",
    ],
)
def test_pins_constant_across_batches(spark, tmpdirs, case):
    """A long-lived session does not grow its pinned RDDs: after each
    micro-batch (or corpus job) the live persistent-RDD ids are within
    the set live before the stream started.  Compared as id sets: pins of
    earlier tests may be cleaned meanwhile, but no new one may stay."""
    import json

    before = _live_pins(spark)

    def check():
        assert _live_pins(spark) - before == set()

    if case == "corpus_curation":
        _corpus_jobs(spark, tmpdirs, check)
        return
    schema, rows, start = _pin_stream_cases()[case]
    src = tmpdirs / "src"
    src.mkdir()
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    )
    queries = start(stream, tmpdirs)
    try:
        check()
        for i in range(3):
            _write_lines(src, f"b{i}.json", [json.dumps(r) for r in rows(i)])
            queries[0].processAllAvailable()
            check()
    finally:
        for q in queries:
            q.stop()


def _restart_cases():
    """_pin_stream_cases() plus the two writers in sinks/files.py, each
    behind a stateful update-mode sum so a replay must also run its
    input for the state store to commit."""
    from test_flink_spark.sinks.files import idempotent_batch_sink, start_parquet_matview
    from test_flink_spark.sinks.memory import start_foreach_batch

    def sums(stream):
        return stream.groupBy("k").agg(F.sum("v").alias("v"))

    rows = lambda i: [{"k": j, "v": i + 1} for j in range(3)]  # noqa: E731
    return {
        **_pin_stream_cases(),
        "idempotent_batch_sink": (
            "k LONG, v LONG",
            rows,
            lambda s, t: [start_foreach_batch(
                sums(s), idempotent_batch_sink(str(t / "out")), "restart_sink",
                str(t / "ckpt"))],
        ),
        "parquet_matview": (
            "k LONG, v LONG",
            rows,
            lambda s, t: [start_parquet_matview(
                sums(s), str(t / "view"), ["k"], str(t / "ckpt"), "restart_view")],
        ),
    }


def _commit_files(tmp: Path) -> dict:
    """path -> mtime of every file under every commit root below ``tmp``."""
    return {
        str(f): f.stat().st_mtime_ns
        for c in tmp.rglob("_committed")
        for f in c.parent.rglob("*")
        if f.is_file()
    }


def _committed_outputs(spark, tmp: Path) -> dict:
    """commit root (relative to ``tmp``) -> {marked batch: (sorted rows,
    sidecars)}, read through the commit module."""
    import json
    import os

    out = {}
    for c in sorted(tmp.rglob("_committed")):
        root = str(c.parent)
        out[str(c.parent.relative_to(tmp))] = {
            b: (
                sorted(str(r) for r in read_batch(spark, root, b).collect()),
                {
                    f: json.loads(Path(batch_dir(root, b), f).read_text())
                    for f in os.listdir(batch_dir(root, b))
                    if f.endswith(".json")
                },
            )
            for b in marked(root)
        }
    return out


@pytest.mark.parametrize(
    "case",
    [
        "broadcast_rules_apply",
        "broadcast_rules_fold",
        "cluster_ingest",
        "gdpr_ingest",
        "idempotent_batch_sink",
        "late_updates",
        "parquet_matview",
        "processing_time",
        "side_outputs",
        "sketch_ingest",
        "stats_ingest",
        "substring_dedup",
        "verdict_ingest",
    ],
)
def test_restart_from_checkpoint_applies_each_batch_once(spark, tmpdirs, case):
    """A crash after a writer committed batch 1 but before Spark
    committed it: deleting ``commits/1`` makes the restarted query re-run
    batch 1.  The replay must rewrite no committed file, and after a
    third batch every committed output must equal an uninterrupted run
    over the same three batches."""
    import json

    schema, rows, start = _restart_cases()[case]

    def run(tmp, batches, queries=None):
        src = tmp / "src"
        src.mkdir(parents=True, exist_ok=True)
        queries = queries or start(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src)),
            tmp,
        )
        try:
            for i in batches:
                _write_lines(src, f"b{i}.json", [json.dumps(r) for r in rows(i)])
                queries[0].processAllAvailable()
        finally:
            for q in queries:
                q.stop()

    whole, crash = tmpdirs / "whole", tmpdirs / "crash"
    run(whole, range(3))
    run(crash, range(2))
    # the fed query's checkpoint is the one that committed batch 1
    [commits] = [c for c in crash.rglob("commits") if (c / "1").exists()]
    (commits / "1").unlink()
    (commits / ".1.crc").unlink(missing_ok=True)  # the local FS checksum
    written = _commit_files(crash)
    assert written

    queries = start(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(str(crash / "src")),
        crash,
    )
    try:
        queries[0].processAllAvailable()
        assert (commits / "1").exists()  # Spark re-ran and committed it
        assert _commit_files(crash) == written  # ... and it wrote nothing
    except BaseException:
        for q in queries:
            q.stop()
        raise
    run(crash, [2], queries)
    assert _committed_outputs(spark, crash) == _committed_outputs(spark, whole)
    if case == "parquet_matview":
        view = {str(r) for r in spark.read.parquet(str(crash / "view")).collect()}
        assert view == {f"Row(k={k}, v=6)" for k in range(3)}
