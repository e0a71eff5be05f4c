"""Batch file-sink tests: partitioned parquet round-trip with pruning."""

from __future__ import annotations

import contextlib
import io
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from test_flink_spark.schemas import load_table
from test_flink_spark.sinks.files import write_parquet

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="tfs-sink-")
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


def test_partitioned_parquet_roundtrip_and_pruning(spark, tmpdir):
    ev = load_table(spark, SF, "events")
    out = str(tmpdir / "events_by_type")
    write_parquet(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # directory partitioning must yield partition pruning, not a filter scan
    q = back.filter(F.col("event_type") == "view")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert q.count() == ev.filter(F.col("event_type") == "view").count()


def test_upsert_statement_dialects():
    from test_flink_spark.sinks.jdbc import upsert_statement

    # `time`, `type`, `count` are reserved words in at least one target
    # dialect — every identifier must come out quoted
    cols = ["time", "appid", "type", "count"]
    keys = ["time", "appid", "type"]
    my = upsert_statement("log_track_point", "stg", cols, keys, "mysql")
    assert my.startswith("INSERT INTO `log_track_point`")
    assert "ON DUPLICATE KEY UPDATE `count` = VALUES(`count`)" in my
    ansi = upsert_statement("t", "s", cols, keys, "ansi")
    assert ansi.startswith('MERGE INTO "t"')
    assert 'WHEN MATCHED THEN UPDATE SET t."count" = s."count"' in ansi
    assert 't."time" = s."time" AND t."appid" = s."appid" AND t."type" = s."type"' in ansi
    pg = upsert_statement("t", "s", cols, keys, "postgres")
    assert 'ON CONFLICT ("time", "appid", "type") DO UPDATE SET' in pg
    assert '"count" = EXCLUDED."count"' in pg


def test_upsert_statement_key_only_tables():
    """Every column is a key → degrade to insert-if-absent, still valid SQL."""
    from test_flink_spark.sinks.jdbc import upsert_statement

    cols = keys = ["a", "b"]
    my = upsert_statement("t", "s", cols, keys, "mysql")
    assert "ON DUPLICATE KEY UPDATE `a` = VALUES(`a`)" in my  # no-op update
    pg = upsert_statement("t", "s", cols, keys, "postgres")
    assert pg.endswith('ON CONFLICT ("a", "b") DO NOTHING')
    ansi = upsert_statement("t", "s", cols, keys, "ansi")
    assert "WHEN MATCHED" not in ansi
    assert "WHEN NOT MATCHED THEN INSERT" in ansi


def test_upsert_statement_rejects_bad_keys():
    import pytest as _pytest

    from test_flink_spark.sinks.jdbc import upsert_statement

    with _pytest.raises(ValueError):
        upsert_statement("t", "s", ["a"], [], "ansi")
    with _pytest.raises(ValueError):
        upsert_statement("t", "s", ["a"], ["missing"], "ansi")


def test_infer_dialect():
    from test_flink_spark.sinks.jdbc import infer_dialect

    assert infer_dialect("jdbc:mysql://db:3306/x") == "mysql"
    assert infer_dialect("jdbc:postgresql://db/x") == "postgres"
    assert infer_dialect("jdbc:oracle:thin:@db") == "ansi"


def test_upsert_executes_for_real_on_duckdb():
    """DuckDB speaks the postgres ON CONFLICT dialect — run the generated
    statement against a real database: fresh insert, update-in-place on key
    collision, and idempotence under micro-batch replay (the exactly-once
    property SURVEY.md §4.3 claims for the staged upsert)."""
    import duckdb

    from test_flink_spark.sinks.jdbc import upsert_statement

    con = duckdb.connect()
    # "type" and "count" are quoted-identifier territory in DuckDB too
    con.execute('CREATE TABLE tgt ("time" BIGINT, "type" TEXT, "count" BIGINT,'
                ' PRIMARY KEY ("time", "type"))')
    con.execute('CREATE TABLE stg ("time" BIGINT, "type" TEXT, "count" BIGINT)')
    stmt = upsert_statement(
        "tgt", "stg", ["time", "type", "count"], ["time", "type"], "postgres"
    )

    con.execute("INSERT INTO stg VALUES (1, 'view', 10), (2, 'click', 5)")
    con.execute(stmt)  # batch 1: fresh insert
    con.execute(stmt)  # batch 1 REPLAYED: must not duplicate
    assert con.execute('SELECT COUNT(*) FROM tgt').fetchone()[0] == 2

    con.execute("DELETE FROM stg")
    con.execute("INSERT INTO stg VALUES (1, 'view', 99), (3, 'buy', 1)")
    con.execute(stmt)  # batch 2: one update, one insert
    rows = dict(
        ((t, ty), c)
        for t, ty, c in con.execute('SELECT "time", "type", "count" FROM tgt').fetchall()
    )
    assert rows == {(1, "view"): 99, (2, "click"): 5, (3, "buy"): 1}


def test_upsert_writer_stages_before_merge_and_closes_connection():
    """foreachBatch sequencing with a fake connection: the staging overwrite
    must happen BEFORE the merge statement executes, and the connection must
    close even when the statement fails."""
    from unittest.mock import MagicMock

    from test_flink_spark.sinks.jdbc import jdbc_upsert_writer, upsert_statement

    calls: list[str] = []
    batch = MagicMock()
    batch.columns = ["time", "type", "count"]
    batch.write.jdbc.side_effect = lambda **kw: calls.append(f"stage:{kw['table']}:{kw['mode']}")
    conn = MagicMock()
    stmt_exec = conn.createStatement.return_value
    stmt_exec.executeUpdate.side_effect = lambda sql: calls.append("merge")
    dm = batch.sparkSession._sc._jvm.java.sql.DriverManager
    dm.getConnection.return_value = conn

    write = jdbc_upsert_writer(
        "jdbc:mysql://db/x", "tgt", ["time", "type"], {"user": "u", "password": "p"}
    )
    write(batch, 7)
    assert calls == ["stage:tgt__staging:overwrite", "merge"]
    sql_sent = stmt_exec.executeUpdate.call_args[0][0]
    assert sql_sent == upsert_statement(
        "tgt", "tgt__staging", batch.columns, ["time", "type"], "mysql"
    )
    assert conn.close.called

    # failure path: executeUpdate raises → connection still closed
    conn.reset_mock()
    stmt_exec.executeUpdate.side_effect = RuntimeError("boom")
    try:
        write(batch, 8)
    except RuntimeError:
        pass
    assert conn.close.called


def test_format_roundtrips_preserve_rows(spark, tmp_path):
    """Every batch file format the engine writes must read back losslessly:
    parquet/ORC preserve schema exactly; CSV/JSON roundtrip values through
    an explicit read schema (their on-disk form is untyped/stringly)."""
    from test_flink_spark.sinks.files import (
        write_csv,
        write_json,
        write_orc,
        write_parquet,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -0.25), (3, None, 0.0)],
        "id LONG, name STRING, score DOUBLE",
    )
    want = sorted((r["id"], r["name"], r["score"]) for r in df.collect())

    write_parquet(df, str(tmp_path / "p"))
    assert sorted(
        (r["id"], r["name"], r["score"]) for r in spark.read.parquet(str(tmp_path / "p")).collect()
    ) == want
    assert dict(spark.read.parquet(str(tmp_path / "p")).dtypes) == dict(df.dtypes)

    write_orc(df, str(tmp_path / "o"))
    got_orc = spark.read.orc(str(tmp_path / "o"))
    assert sorted((r["id"], r["name"], r["score"]) for r in got_orc.collect()) == want
    assert dict(got_orc.dtypes) == dict(df.dtypes)

    write_json(df, str(tmp_path / "j"))
    got_j = spark.read.schema(df.schema).json(str(tmp_path / "j"))
    assert sorted((r["id"], r["name"], r["score"]) for r in got_j.collect()) == want

    write_csv(df, str(tmp_path / "c"))
    got_c = spark.read.schema(df.schema).option("header", "true").csv(str(tmp_path / "c"))
    assert sorted((r["id"], r["name"], r["score"]) for r in got_c.collect()) == want


def test_parquet_matview_converges_to_batch_aggregate(spark, tmp_path):
    """The foreachBatch parquet materialized view must equal the batch
    aggregation over everything streamed, across multiple micro-batches
    touching overlapping keys (upsert, not append)."""
    from test_flink_spark.sinks.files import start_parquet_matview
    from test_flink_spark.sources.files import text_lines
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    b1 = ["a,1", "b,2", "a,3"]
    b2 = ["a,10", "c,5"]  # 'a' updated across batches, 'c' new
    (src / "b1.csv").write_text("\n".join(b1) + "\n")

    parsed = (
        text_lines(spark, str(src), streaming=True)
        .selectExpr(
            "split(value, ',')[0] AS k",
            "CAST(split(value, ',')[1] AS LONG) AS v",
        )
        .groupBy("k")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
    )
    view_path = str(tmp_path / "matview")
    q = start_parquet_matview(
        parsed, view_path, ["k"], str(tmp_path / "ckpt"), "mv_test"
    )
    try:
        q.processAllAvailable()
        (src / "b2.csv").write_text("\n".join(b2) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["k"]: (r["total"], r["n"])
        for r in spark.read.parquet(view_path).collect()
    }
    static = spark.createDataFrame(
        [tuple(l.split(",")) for l in b1 + b2], "k STRING, v STRING"
    ).selectExpr("k", "CAST(v AS LONG) AS v")
    want = {
        r["k"]: (r["total"], r["n"])
        for r in static.groupBy("k")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want  # {'a': (14, 3), 'b': (2, 1), 'c': (5, 1)}


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    """Compaction must shrink a many-small-files directory to the computed
    target file count, keep every row bit-identical, and leave no temp
    directory behind (write-and-swap)."""
    import os

    from test_flink_spark.sinks.files import compact_parquet

    path = str(tmp_path / "frag")
    df = spark.range(10_000).selectExpr("id", "id % 7 AS k")
    df.repartition(64).write.parquet(path)  # 64 small files
    before_rows = sorted(
        (r["id"], r["k"]) for r in spark.read.parquet(path).collect()
    )
    n_before, n_after = compact_parquet(spark, path, target_records_per_file=4_000)
    assert n_before == 64
    assert n_after == 3  # ceil(10000 / 4000)
    after_rows = sorted(
        (r["id"], r["k"]) for r in spark.read.parquet(path).collect()
    )
    assert after_rows == before_rows
    assert not any("__compact_tmp" in d for d in os.listdir(tmp_path))


def test_apply_deletes_removes_only_tombstoned_keys(spark, tmp_path):
    from test_flink_spark.sinks.files import apply_deletes

    path = str(tmp_path / "ds")
    spark.range(1_000).selectExpr("id", "id % 10 AS grp").write.parquet(path)
    tombs = spark.createDataFrame([(7,), (13,), (999,), (5000,)], "id LONG")
    before, after = apply_deletes(spark, path, tombs, ["id"])
    assert (before, after) == (1_000, 997)  # 5000 not present: no-op
    left = {r["id"] for r in spark.read.parquet(path).collect()}
    assert left.isdisjoint({7, 13, 999}) and len(left) == 997


def test_schema_drift_report_flags_add_remove_retype(spark, tmp_path):
    from test_flink_spark.sources.files import schema_drift_report

    old_p, new_p = str(tmp_path / "v1"), str(tmp_path / "v2")
    spark.createDataFrame(
        [(1, "a", 1.5)], "id LONG, name STRING, score DOUBLE"
    ).write.parquet(old_p)
    spark.createDataFrame(
        [(1, 2.0, True)], "id LONG, score FLOAT, fresh BOOLEAN"
    ).write.parquet(new_p)
    got = {
        r["column"]: (r["status"], r["old_type"], r["new_type"])
        for r in schema_drift_report(spark, old_p, new_p).collect()
    }
    assert got == {
        "name": ("removed", "string", None),
        "fresh": ("added", None, "boolean"),
        "score": ("type_changed", "double", "float"),
    }


def test_compact_parquet_preserves_partition_layout(spark, tmp_path):
    """Compacting a directory-partitioned table with partition_by re-applies
    the layout: partition dirs survive, per-partition file count drops to 1,
    rows and pruning behavior are unchanged."""
    import os

    from test_flink_spark.sinks.files import compact_parquet

    path = str(tmp_path / "pt")
    (
        spark.range(900)
        .selectExpr("id", "id % 3 AS part")
        .repartition(12)
        .write.partitionBy("part")
        .parquet(path)
    )
    n_before, n_after = compact_parquet(
        spark, path, target_records_per_file=1_000, partition_by=["part"]
    )
    assert n_before > 3 and n_after == 3  # one file per partition value
    assert sorted(
        d for d in os.listdir(path) if d.startswith("part=")
    ) == ["part=0", "part=1", "part=2"]
    assert spark.read.parquet(path).filter("part = 1").count() == 300


def _file_commits_outside_commit_module(pkg: Path) -> list[str]:
    """Every DataFrame ``.write`` and ``os.rename``/``os.replace`` in the
    streaming and sink packages outside sinks/files.py, the commit
    module.  A ``.write.jdbc`` commits through a database transaction and
    is not a file commit."""
    import ast

    found = []
    for f in sorted([*pkg.glob("streaming/*.py"), *pkg.glob("sinks/*.py")]):
        if f.relative_to(pkg).as_posix() == "sinks/files.py":
            continue
        tree = ast.parse(f.read_text())
        parent = {id(c): n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Attribute):
                continue
            up = parent.get(id(node))
            if node.attr == "write":
                if isinstance(up, ast.Call) and up.func is node:
                    continue  # a file handle's write(...)
                if isinstance(up, ast.Attribute) and up.attr == "jdbc":
                    continue
            elif not (
                node.attr in ("rename", "replace")
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ):
                continue
            found.append(f"{f.relative_to(pkg).as_posix()}:{node.lineno}")
    return found


def test_no_file_commit_outside_commit_module():
    """Every foreachBatch file writer commits through sinks/files.py's
    commit protocol (docs/DESIGN_DECISIONS.md, "Commit protocol")."""
    pkg = Path(__file__).resolve().parents[1] / "test_flink_spark"
    assert _file_commits_outside_commit_module(pkg) == []
