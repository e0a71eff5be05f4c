"""The session memo (session.Memo): an entry is keyed by what its input
holds, not by the input's path, and each memo holds one entry, so a
long-lived session neither returns a stale stage nor grows its pins."""

from __future__ import annotations

import ast
import functools
import os
import shutil
import sys
from itertools import combinations
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "perfbench"))

from corpus import check  # noqa: E402  (the benchmark's output check)
from gen import corpus_shard  # noqa: E402

from test_flink_spark.plans import llm_data  # noqa: E402
from test_flink_spark.session import Memo, pin, pins, release_pinned_cache  # noqa: E402
from test_flink_spark.sinks.files import write_parquet  # noqa: E402


def _live_pins(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _job_matches_oracle(spark, shard_dir, out_dir) -> bool:
    """One benchmark job: curate the shard, write it, check it."""
    write_parquet(llm_data.corpus_curation_pipeline(spark, shard_dir), out_dir)
    return pq.read_table(out_dir).num_rows > 0 and check(shard_dir, out_dir)


def test_new_shard_at_old_path_matches_oracle(spark, tmp_path):
    """Two shards land in turn at one path (a directory rename), in one
    session, with no release call: each run equals the oracle over the
    shard then at the path.  Keyed by the path, the second run read the
    first shard's clusters and kept 0 rows."""
    land = tmp_path / "land"
    for shard in (1, 2):
        corpus_shard(1, shard, str(tmp_path / f"stage{shard}"), 250)
    for shard in (1, 2):
        if land.exists():
            shutil.rmtree(land)
        os.rename(tmp_path / f"stage{shard}", land)
        assert _job_matches_oracle(spark, str(land), str(tmp_path / f"out{shard}"))


def test_distinct_paths_hold_one_entry_per_memo(spark, tmp_path, memo_pins):
    """Four shards at four paths, no release call: after every job each
    memo the pipeline reads holds the current shard's entry, and the
    pins beyond the pre-test set are exactly those entries' pins."""
    before = _live_pins(spark)
    for shard in range(4):
        path = str(tmp_path / f"shard{shard}")
        corpus_shard(2, shard, path, 250)
        assert _job_matches_oracle(spark, path, str(tmp_path / f"out{shard}"))
        for memo in (llm_data._CLUSTERS_CACHE, llm_data._PAIR_BASE_CACHE):
            assert memo._key[2][0][0].endswith(f"{path}/documents.parquet")
        new = _live_pins(spark) - before
        assert new == memo_pins() - before
        assert len(new) == 2


def test_memo_keys_on_content_and_params(spark, tmp_path):
    """One entry per memo: the same file listing and params return the
    entry; a rewrite of the file (same path) or other params release it,
    through ``drop`` for a plain value and by unpinning a pinned one."""
    path = str(tmp_path / "t.parquet")
    dropped = []
    memo = Memo(drop=dropped.append)

    def write(n):
        pq.write_table(pa.table({"x": list(range(n))}), path)
        return spark.read.parquet(path)

    df = write(3)
    assert memo.get(spark, [df], 1, lambda: "a") == "a"
    assert memo.get(spark, [df], 1, lambda: "b") == "a"
    assert memo.get(spark, [df], 2, lambda: "c") == "c"
    assert dropped == ["a"]
    df = write(5)
    assert memo.get(spark, [df], 2, lambda: "d") == "d"
    assert dropped == ["a", "c"]

    pinned = Memo()
    before = _live_pins(spark)
    out = pinned.get(spark, [df], (), lambda: pin(df.selectExpr("x * 2 AS y")))
    assert len(_live_pins(spark) - before) == 1  # outside every scope
    assert sorted(r["y"] for r in out.collect()) == [0, 2, 4, 6, 8]
    release_pinned_cache(pinned)
    assert _live_pins(spark) - before == set()


def test_table_handle_follows_new_files_at_its_path(spark, tmp_path):
    """load_table's handle memo re-reads a table whose files changed: a
    larger multi-row-group file over a small one, then a directory whose
    part file was replaced by one of another name."""
    from test_flink_spark.schemas import load_table

    path = tmp_path / "documents.parquet"

    def write(n, target, **kw):
        pq.write_table(pa.table({"doc_id": list(range(n))}), target, **kw)

    write(100, path)
    assert load_table(spark, str(tmp_path), "documents").count() == 100
    write(20_000, path, row_group_size=2_000)
    assert load_table(spark, str(tmp_path), "documents").count() == 20_000
    path.unlink()
    path.mkdir()
    write(7, path / "part-a.parquet")
    assert load_table(spark, str(tmp_path), "documents").count() == 7
    (path / "part-a.parquet").unlink()
    write(9, path / "part-b.parquet")
    assert load_table(spark, str(tmp_path), "documents").count() == 9


# --- the stop-shingle cap, where it binds -----------------------------------

_HOT = "all rights reserved contact us today"  # 4 shingles, in 4 docs
_CAP_ROWS = [
    (1, f"{_HOT} near dup body text one two three four"),
    (2, f"{_HOT} near dup body text one two three five"),
    (3, f"{_HOT} other near copy alpha beta gamma delta"),
    (4, f"{_HOT} other near copy alpha beta gamma epsilon"),
    (5, "near dup body text one two solo words"),
    (6, "unrelated singleton document body words"),
]
_CAP = 3


def _capped_reference(rows, cap):
    """Pure-Python ``(id_a, id_b) -> (shared, n_a, n_b)`` over word
    3-gram sets with every shingle in more than ``cap`` docs removed."""
    grams = {}
    for i, text in rows:
        w = text.split()
        grams[i] = {" ".join(w[k:k + 3]) for k in range(len(w) - 2)}
    df = {}
    for g in grams.values():
        for s in g:
            df[s] = df.get(s, 0) + 1
    assert max(df.values()) > cap  # the cap binds
    kept = {i: {s for s in g if df[s] <= cap} for i, g in grams.items()}
    return {
        (a, b): (len(kept[a] & kept[b]), len(kept[a]), len(kept[b]))
        for a, b in combinations(sorted(kept), 2)
        if kept[a] & kept[b]
    }


@pytest.fixture(scope="module")
def cap_ref():
    ref = _capped_reference(_CAP_ROWS, _CAP)
    assert (1, 3) not in ref  # they share only hot shingles
    assert {(1, 2), (3, 4), (1, 5), (2, 5)} <= set(ref)
    return ref


def test_capped_jaccard_values(spark, cap_ref):
    from test_flink_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(_CAP_ROWS, "doc_id LONG, text STRING")
    with pins():
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=_CAP).collect()
        }
    assert set(got) == set(cap_ref)
    for pair, (shared, n_a, n_b) in cap_ref.items():
        assert got[pair] == pytest.approx(shared / (n_a + n_b - shared), abs=5e-5)


def test_capped_containment_values(spark, cap_ref):
    from test_flink_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(_CAP_ROWS, "doc_id LONG, text STRING")
    with pins():
        got = {
            (r["id_a"], r["id_b"]): (r["shared"], r["n_a"], r["n_b"], r["containment_bp"])
            for r in containment_pairs(docs, threshold_bp=0, max_doc_freq=_CAP).collect()
        }
    assert got == {
        p: (s, a, b, s * 10000 // min(a, b)) for p, (s, a, b) in cap_ref.items()
    }


def test_capped_shared_pair_base_values(spark, tmp_path, monkeypatch, cap_ref):
    """The memoized pair base over a ``documents.parquet`` at the cap."""
    from test_flink_spark.operators import dedup

    monkeypatch.setattr(
        dedup,
        "capped_shingle_hashes",
        functools.partial(dedup.capped_shingle_hashes, max_doc_freq=_CAP),
    )
    ids, texts = zip(*_CAP_ROWS)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": list(texts)}),
        tmp_path / "documents.parquet",
    )
    try:
        base = llm_data._shared_pair_base(spark, str(tmp_path))
        got = {
            (r["id_a"], r["id_b"]): (r["shared"], r["n_a"], r["n_b"])
            for r in base.collect()
        }
        assert llm_data._shared_pair_base(spark, str(tmp_path)) is base
    finally:
        release_pinned_cache(llm_data._PAIR_BASE_CACHE)
    assert got == cap_ref


# --- one caching mechanism --------------------------------------------------

def _application_keyed_caches(pkg: Path) -> list[str]:
    """``module: name`` of every module-level dict or set that a function
    reading ``applicationId`` indexes, outside ``session.py``."""
    found = []
    for f in sorted(pkg.rglob("*.py")):
        if f == pkg / "session.py":
            continue
        tree = ast.parse(f.read_text())
        containers = set()
        for node in tree.body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign) and node.value
                else []
            )
            value = getattr(node, "value", None)
            if isinstance(value, (ast.Dict, ast.Set, ast.DictComp, ast.SetComp)) or (
                isinstance(value, ast.Call)
                and getattr(value.func, "id", getattr(value.func, "attr", ""))
                in {"dict", "set", "defaultdict", "OrderedDict"}
            ):
                containers |= {t.id for t in targets if isinstance(t, ast.Name)}
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            inner = list(ast.walk(fn))
            if not any(isinstance(n, ast.Attribute) and n.attr == "applicationId" for n in inner):
                continue
            for n in inner:
                base = n.value if isinstance(n, (ast.Subscript, ast.Attribute)) else None
                if isinstance(base, ast.Name) and base.id in containers:
                    found.append(f"{f.relative_to(pkg)}: {base.id}")
    return sorted(set(found))


def test_no_application_keyed_cache_outside_session():
    """Session state is memoized only through session.Memo, whose key
    holds the input's file listing: a dict keyed by the application and
    a path returns a stale stage when a new file lands at that path."""
    assert _application_keyed_caches(REPO / "test_flink_spark") == []
