"""End-to-end pipeline tests: the streaming Top-N engine (stream = batch,
tie order, replay once after a restart) and the SQL catalog surface."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest

from test_flink_spark.pipelines.hot_items import batch_top_n, run_streaming_foreach_batch
from test_flink_spark.sinks.files import read_committed
from test_flink_spark.sources.files import text_lines
from test_flink_spark.sql import register_testdata_views

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="tfs-pipe-")
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


# CSV contract: user_id,item_id,category_id,behavior,epoch_seconds.
# All five pv rows fall in the same twelve 1 h / 5 min windows (ends
# 3900..7200 s).  Item 100 has 2 pv; items 200, 300 and 50 have 1 each, so
# ranks 2 and 3 are a count tie at the top-3 cut: ascending item_id keeps
# 50 and 200 and cuts 300, although 50 arrives last.
BATCH1 = [
    "1,100,10,pv,3600",
    "2,100,10,pv,3610",
    "3,200,10,pv,3620",
    "4,100,10,buy,3630",   # filtered (not pv)
    "5,300,10,pv,3640",
    "6,50,10,pv,3650",
]
# advances watermark far past the first windows' ends
BATCH2 = ["9,999,10,pv,90000"]


def _ranked(rows) -> dict:
    return {(r["window_end"], r["rank"]): (r["item_id"], r["cnt"]) for r in rows}


def test_foreach_batch_topn_matches_batch(spark, tmpdirs):
    src = tmpdirs / "src"
    src.mkdir()
    out = str(tmpdirs / "out")
    (src / "b1.csv").write_text("\n".join(BATCH1) + "\n")
    q = run_streaming_foreach_batch(
        text_lines(spark, str(src), streaming=True), str(tmpdirs / "ckpt"), out, n=3
    )
    try:
        q.processAllAvailable()
        (src / "b2.csv").write_text("\n".join(BATCH2) + "\n")  # close the windows
        q.processAllAvailable()
    finally:
        q.stop()
    got = _ranked(read_committed(spark, out).collect())
    batch = spark.createDataFrame([(l,) for l in BATCH1], "value STRING")
    assert got == _ranked(batch_top_n(batch, n=3).collect())
    assert len(got) == 12 * 3
    # in every window item 100 (2 pv; its buy row is filtered) outranks the
    # rest, and the tie at the cut goes by ascending item_id, not arrival
    assert {(rank, v) for (_, rank), v in got.items()} == {
        (1, (100, 2)), (2, (50, 1)), (3, (200, 1))
    }


def test_foreach_batch_topn_replays_once_after_restart(spark, tmpdirs):
    """Crash after the sink wrote but before Spark committed the batch:
    deleting the last ``commits/<id>`` makes the restarted query re-run
    batch <id>.  ``idempotent_batch_sink`` must not write it again, so the
    output is the batch answer with every window emitted once."""
    src = tmpdirs / "src"
    src.mkdir()
    ckpt = str(tmpdirs / "ckpt")
    out = tmpdirs / "out"
    files = [
        BATCH1,
        ["7,100,10,pv,9000", "8,400,10,pv,9010"],  # closes BATCH1's windows
        ["9,400,10,pv,20000"],  # closes the second file's windows
    ]

    def start():
        return run_streaming_foreach_batch(
            text_lines(spark, str(src), streaming=True), ckpt, str(out), n=3
        )

    q = start()
    try:
        for i, lines in enumerate(files[:2]):
            (src / f"b{i}.csv").write_text("\n".join(lines) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()
    commits = Path(ckpt) / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    replayed = out / "data" / f"batch-{last}"
    written = sorted(p.name for p in replayed.iterdir())
    assert spark.read.parquet(str(replayed)).count() > 0  # replay must matter
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink(missing_ok=True)  # the local FS checksum

    q = start()
    try:
        q.processAllAvailable()
        (src / "b2.csv").write_text("\n".join(files[2]) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    assert (commits / str(last)).exists()  # Spark re-ran and committed it
    assert sorted(p.name for p in replayed.iterdir()) == written

    rows = read_committed(spark, str(out)).collect()
    keys = [(r["window_end"], r["rank"]) for r in rows]
    assert len(keys) == len(set(keys))  # each window emitted once
    lines = [l for f in files for l in f]
    batch = batch_top_n(spark.createDataFrame([(l,) for l in lines], "value STRING"), n=3)
    # the stream emits a window once the watermark (max event time, 20000 s)
    # reaches its end; later windows are still open
    closed = batch.filter(batch.window_end <= 20000 * 1000)
    assert _ranked(rows) == _ranked(closed.collect())


def test_sql_surface_over_views(spark):
    views = register_testdata_views(spark, SF)
    assert "lineitem" in views
    row = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT l_orderkey) AS o FROM lineitem"
    ).collect()[0]
    assert row["n"] > 0 and row["o"] > 0
    # events view must carry the normalized TimestampType ts
    assert dict(spark.table("events").dtypes)["ts"] == "timestamp"


def test_build_dataset_cli_writes_partitioned_data_and_manifest(spark, tmp_path):
    """The dataset-build CLI must write split-partitioned parquet whose
    contents equal the registered corpus_build_dataset query, plus a
    manifest whose totals match the data."""
    import json
    import runpy
    import sys

    out = str(tmp_path / "ds")
    mod = runpy.run_path("bin/run_build_dataset.py")
    mod["main"](["--input_dir", "/root/testdata/sf0.001", "--output", out])

    from test_flink_spark.plans.llm_data import corpus_build_dataset

    want = {
        tuple(r)
        for r in corpus_build_dataset(spark, "/root/testdata/sf0.001")
        .select("doc_id", "chunk_idx", "split")
        .collect()
    }
    got_df = spark.read.parquet(f"{out}/data")
    got = {tuple(r) for r in got_df.select("doc_id", "chunk_idx", "split").collect()}
    assert got == want
    manifest = json.load(open(f"{out}/manifest.json"))
    totals = {m["split"]: m["n_chunks"] for m in manifest["splits"]}
    assert sum(totals.values()) == len(want)
    assert set(totals) == {"train", "val", "test"}
