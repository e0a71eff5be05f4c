"""End-to-end pipeline tests: the foreachBatch Top-N strategy and the SQL
catalog surface."""

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


def test_foreach_batch_topn_matches_batch(spark, tmpdirs):
    src = tmpdirs / "src"
    src.mkdir()
    out = str(tmpdirs / "out")
    lines = ["1,100,10,pv,3600", "2,100,10,pv,3610", "3,200,10,pv,3620"]
    (src / "b1.csv").write_text("\n".join(lines) + "\n")
    q = run_streaming_foreach_batch(
        text_lines(spark, str(src), streaming=True), str(tmpdirs / "ckpt"), out, n=3
    )
    try:
        q.processAllAvailable()
        (src / "b2.csv").write_text("9,999,10,pv,90000\n")  # close the windows
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["window_end"], r["rank"]): (r["item_id"], r["cnt"])
        for r in read_committed(spark, out).collect()
        if r["item_id"] != 999
    }
    batch = spark.createDataFrame([(l,) for l in lines], "value STRING")
    exp = {
        (r["window_end"], r["rank"]): (r["item_id"], r["cnt"])
        for r in batch_top_n(batch, n=3).collect()
    }
    assert got == exp


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
