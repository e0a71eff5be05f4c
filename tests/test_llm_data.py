"""Property tests for the LLM-data operators: LSH recall vs exact top-k,
SimHash locality, MinHash vs true Jaccard agreement, multimodal stub
behavior."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from test_flink_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash64,
)
from test_flink_spark.operators.multimodal import decode_stub
from test_flink_spark.operators.similarity import cosine_topk, lsh_bucket_topk
from test_flink_spark.schemas import load_table

SF = "/root/testdata/sf0.001"

# Edge cases of Spark's split(trim(text), '\s+') tokenizer (operators/text.words)
TOKENIZER_EDGE_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, " leading and trailing spaces "),
    (3, "\ttab\tleads and\ttrailing tab\t"),  # trim keeps \t -> empty tokens
    (4, ""),  # -> [''] one empty token
    (5, "   "),  # trim -> '' -> [''] too
    (6, "nbsp\xa0inside and\u2003em-space stay single tokens"),
    (7, None),  # null text: no output row
    (8, "x\ny\rz\x0bw\x0cv"),  # every ASCII \s class member separates
    (9, "unicode töken \U0001f600 emoji"),
]


def test_lsh_ann_recall(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=3).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    one = lsh_bucket_topk(emb, queries, dim=64, k=3, n_planes=4, n_tables=1).collect()
    many = lsh_bucket_topk(emb, queries, dim=64, k=3, n_planes=4, n_tables=8).collect()
    r1 = len(exact_set & {(r["query_id"], r["neighbor_id"]) for r in one}) / len(exact_set)
    r8 = len(exact_set & {(r["query_id"], r["neighbor_id"]) for r in many}) / len(exact_set)
    # OR-amplification must raise recall; 8 tables at 4 planes lands well
    # above trivial overlap on this corpus
    assert r8 >= r1, f"more tables lowered recall: {r1} -> {r8}"
    assert r8 > 0.3, f"LSH recall collapsed: {r8}"
    assert all(-1.0 <= r["sim"] <= 1.0 for r in many)


def test_simhash_signatures_arrow_matches_expression_reference(spark):
    """The Arrow signature pass (simhash_signatures — the production path
    behind simhash/simhash64 since the r12 optimization round) must be
    bit-identical to the retained expression references on the tokenizer's
    edge cases: Spark's split(trim(text), '\\s+') strips 0x20 only, treats
    Java's ASCII \\s as separators (unicode whitespace is TOKEN content),
    and keeps leading/trailing empty tokens; null text emits no row."""
    from test_flink_spark.operators.dedup import (
        _simhash64_expr,
        _simhash_expr,
        simhash_signatures,
    )

    df = spark.createDataFrame(TOKENIZER_EDGE_ROWS, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: (r["simhash"], r["sh_lo"], r["sh_hi"])
        for r in simhash_signatures(df).collect()
    }
    ref32 = {r["doc_id"]: r["simhash"] for r in _simhash_expr(df, bits=32).collect()}
    ref64 = {
        r["doc_id"]: (r["sh_lo"], r["sh_hi"]) for r in _simhash64_expr(df).collect()
    }
    assert set(got) == set(ref32) == set(ref64) == {1, 2, 3, 4, 5, 6, 8, 9}
    for doc_id, (s32, lo, hi) in got.items():
        assert s32 == ref32[doc_id], f"w32 lane diverged on doc {doc_id}"
        assert (lo, hi) == ref64[doc_id], f"w64 lanes diverged on doc {doc_id}"


def test_word_ngrams_matches_python_tokenizer_reference(spark):
    """word_ngrams(text, n) is the " "-join of every n consecutive tokens of
    Spark's tokenizer: strip 0x20 only, split on the ASCII class
    [ \\t\\n\\x0b\\f\\r]+, keep empty tokens.  Documents with fewer than n
    tokens and null text give an empty array, as the gram operators did
    before the helper."""
    from test_flink_spark.operators.text import word_ngrams

    rows = TOKENIZER_EDGE_ROWS + [
        (10, "one"),
        (11, "one two"),
        (12, "\tone"),  # ['', 'one']
        (13, "one two three"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    split = re.compile("[ \t\n\x0b\f\r]+").split
    for n in (2, 3):
        got = {
            r["doc_id"]: r["g"]
            for r in df.select("doc_id", word_ngrams(F.col("text"), n).alias("g")).collect()
        }
        for doc_id, text in rows:
            toks = [] if text is None else split(text.strip(" "))
            want = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            assert got[doc_id] == want, f"n={n} doc {doc_id}: {got[doc_id]!r}"


def test_gram_sites_tokenize_each_document_once(spark):
    """Spark does not eliminate common subexpressions inside higher-order
    lambdas, so words(text) inlined into a per-gram lambda re-splits the
    document once per gram (O(len²)).  Every gram site binds the token
    array once: one split( per plan branch that tokenizes."""
    from test_flink_spark.operators import dedup, span_dedup, text

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "x y z w")], "doc_id LONG, text STRING"
    )
    col = F.col("text")
    # expression columns are aliased: an unnamed column's name is its
    # expression text, split( included
    sites = {
        "shingles": (dedup.shingles(df), 1),
        "shingle_hashes": (dedup.shingle_hashes(df), 1),
        "minhash_signature_expr": (
            df.select(dedup.minhash_signature_expr(col).alias("sig")),
            1,
        ),
        "winnowing_fingerprints": (span_dedup.winnowing_fingerprints(df), 1),
        # two branches tokenize: the gram pass, and the context side of the
        # anchor join
        "anchor_contexts": (span_dedup.anchor_contexts(df), 2),
        "bigrams": (df.select(text.bigrams(col).alias("bg")), 1),
        "chunk_token_windows": (text.chunk_token_windows(df), 1),
        "dedup_blocks": (text.dedup_blocks(df), 1),
    }
    got = {
        name: d._jdf.queryExecution().executedPlan().toString().count("split(")
        for name, (d, _) in sites.items()
    }
    assert got == {name: want for name, (_, want) in sites.items()}


def test_signature_passes_preserve_id_type(spark):
    """r12 ADVICE: the Arrow signature passes hardcoded a bigint id schema
    and int64-cast the ids, so the public ``id_col`` parameter silently
    stopped accepting the string/non-bigint ids the groupBy/expression
    reference forms handle.  Both passes must now propagate the input id
    type and pass values through untouched."""
    from test_flink_spark.operators.dedup import (
        _minhash_signatures_agg,
        minhash_signatures,
        simhash_signatures,
    )

    sdf = spark.createDataFrame(
        [
            ("doc-a", "the quick brown fox jumps over the lazy dog"),
            ("doc-b", "pack my box with five dozen liquor jugs"),
            ("doc-null", None),
        ],
        "k STRING, text STRING",
    )
    mh = minhash_signatures(sdf, id_col="k")
    assert mh.schema["k"].dataType.simpleString() == "string"
    got = {r["k"]: tuple(r["signature"]) for r in mh.collect()}
    ref = {
        r["k"]: tuple(r["signature"])
        for r in _minhash_signatures_agg(sdf, id_col="k").collect()
    }
    assert got == ref and set(got) == {"doc-a", "doc-b"}
    sh = simhash_signatures(sdf, id_col="k")
    assert sh.schema["k"].dataType.simpleString() == "string"
    assert {r["k"] for r in sh.collect()} == {"doc-a", "doc-b"}


def test_simhash_locality(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # 1 word differs
        (3, "completely unrelated words about spark and flink engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    h = {r["doc_id"]: r["simhash"] for r in simhash(df, bits=32).collect()}
    d12 = bin(h[1] ^ h[2]).count("1")
    d13 = bin(h[1] ^ h[3]).count("1")
    assert d12 < d13, f"near-dup hamming {d12} should beat unrelated {d13}"


def test_simhash64_locality_and_band_occupancy(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # 1 word differs
        (3, "completely unrelated words about spark and flink engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    h = {
        r["doc_id"]: (r["sh_lo"], r["sh_hi"])
        for r in simhash64(df).collect()
    }
    for lo, hi in h.values():  # two non-negative 32-bit words, bit 63 never set
        assert 0 <= lo < 2**32 and 0 <= hi < 2**32
    d12 = bin(h[1][0] ^ h[2][0]).count("1") + bin(h[1][1] ^ h[2][1]).count("1")
    d13 = bin(h[1][0] ^ h[3][0]).count("1") + bin(h[1][1] ^ h[3][1]).count("1")
    assert d12 < d13, f"near-dup hamming {d12} should beat unrelated {d13}"

    # the point of the w64 geometry: the same corpus spreads over 256x
    # more band keys, so the candidate-pair bill collapses per band
    from test_flink_spark.plans.llm_data import dedup_simhash_band_occupancy

    occ = {
        (r["geometry"], r["band"]): r
        for r in dedup_simhash_band_occupancy(spark, SF).collect()
    }
    for band in range(4):
        w32, w64 = occ[("w32", band)], occ[("w64", band)]
        assert w64["n_keys"] > w32["n_keys"], (band, w64["n_keys"], w32["n_keys"])
        assert w64["cand_pairs"] < w32["cand_pairs"], (
            f"band {band}: w64 pair bill {w64['cand_pairs']} did not beat "
            f"w32 {w32['cand_pairs']}"
        )


def test_minhash_finds_jaccard_pairs(spark):
    docs = load_table(spark, SF, "documents")
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    cand = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, num_perm=16, bands=4).collect()
    }
    # J >= 0.9 pairs collide with prob 1-(1-0.9^4)^4 ≈ 0.996 per pair
    missed = true_pairs - cand
    assert len(missed) <= max(1, len(true_pairs) // 10), (
        f"LSH missed {len(missed)}/{len(true_pairs)} high-jaccard pairs"
    )


def test_incremental_shard_dedup_matches_batch_lsh(spark):
    """Splitting the corpus into (existing index, new shard) and running
    the incremental check must flag EXACTLY the shard docs that batch
    minhash_lsh_pairs over the full corpus pairs with any lower doc_id —
    same signatures, same band keys, so candidate sets are identical."""
    from test_flink_spark.operators.dedup import (
        incremental_lsh_dedup,
        lsh_band_keys,
        minhash_signatures,
    )

    docs = load_table(spark, SF, "documents")
    srcn = F.substring("source", 4, 10).cast("int")
    corpus, shard = docs.filter(srcn < 15), docs.filter(srcn >= 15)
    index = lsh_band_keys(minhash_signatures(corpus))
    inc = incremental_lsh_dedup(index, shard).collect()
    shard_ids = {r["doc_id"] for r in shard.select("doc_id").collect()}
    batch_pairs = minhash_lsh_pairs(docs, num_perm=16, bands=4).collect()
    # expected from the batch pairs (id_a < id_b): a shard doc is a dup
    # when it pairs with ANY corpus doc (corpus is prior by arrival, id
    # order irrelevant) or with a LOWER-id shard doc; dup_of = min match
    want: dict[int, int] = {}
    for r in batch_pairs:
        a, b = r["id_a"], r["id_b"]
        if b in shard_ids:  # match a is corpus or an earlier shard doc
            want[b] = min(want.get(b, a), a)
        if a in shard_ids and b not in shard_ids:  # corpus match, higher id
            want[a] = min(want.get(a, b), b)
    got = {r["doc_id"]: r["dup_of"] for r in inc if r["is_dup"]}
    assert got == want
    assert {r["doc_id"] for r in inc} == shard_ids  # one row per shard doc
    assert all(r["dup_of"] is None for r in inc if not r["is_dup"])


def test_domain_percentile_gate_keeps_top_fraction_per_domain(spark):
    """Every domain keeps exactly floor(0.4·n) docs, and no kept doc has a
    lower distinct_ratio than an unkept doc of the same domain (rank ties
    break by doc_id, so the boundary is deterministic)."""
    from test_flink_spark.plans.llm_data import corpus_domain_percentile_filter

    rows = corpus_domain_percentile_filter(spark, SF).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert len(by_src) == 20
    for src, rs in by_src.items():
        n = len(rs)
        kept = [r for r in rs if r["kept"]]
        assert len(kept) == (40 * n) // 100, src
        worst_kept = min(r["distinct_ratio"] for r in kept)
        best_cut = max(r["distinct_ratio"] for r in rs if not r["kept"])
        assert worst_kept >= best_cut, src


def test_multimodal_stub_raises_without_fake(spark):
    df = spark.createDataFrame(
        [(1, "image", bytearray(b"abc"))], "media_id LONG, modality STRING, payload BINARY"
    )
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        decode_stub(df).collect()


def test_multimodal_fake_decode_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "image", bytearray(b"abc")), (2, "audio", bytearray(b""))],
        "media_id LONG, modality STRING, payload BINARY",
    )
    out1 = {r["media_id"]: (r["n_bytes"], r["features"]) for r in decode_stub(df, fake=True).collect()}
    out2 = {r["media_id"]: (r["n_bytes"], r["features"]) for r in decode_stub(df, fake=True).collect()}
    assert out1 == out2
    assert out1[1][0] == 3 and out1[2][0] == 0
    assert len(out1[1][1]) == 8


def test_wav_wrap_decode_roundtrip_and_stdlib_parity(spark):
    """wav_wrap's JVM-built container must be a VALID WAV file: parse every
    wrapped payload with Python's stdlib wave module and assert decode_wav
    reports identical header fields + sample count, plus exact amplitude
    stats recomputed from the raw bytes."""
    import io
    import wave

    from test_flink_spark.operators.multimodal import decode_wav, wav_wrap

    payloads = [b"hello world", b"a", bytes(range(200)), b"x" * 1000]
    df = spark.createDataFrame(
        [(i, "audio", bytearray(p)) for i, p in enumerate(payloads)],
        "media_id LONG, modality STRING, payload BINARY",
    )
    wrapped = {r["media_id"]: bytes(r["payload"]) for r in wav_wrap(df).collect()}
    decoded = {r["media_id"]: r.asDict() for r in decode_wav(wav_wrap(df)).collect()}
    for i, p in enumerate(payloads):
        with wave.open(io.BytesIO(wrapped[i])) as w:
            assert w.getnchannels() == decoded[i]["n_channels"] == 1
            assert w.getframerate() == decoded[i]["sample_rate"] == 8000
            assert w.getsampwidth() * 8 == decoded[i]["bits_per_sample"] == 8
            assert w.getnframes() == decoded[i]["n_samples"] == len(p)
            assert w.readframes(w.getnframes()) == p
        assert decoded[i]["amp_sum"] == sum(p)
        assert decoded[i]["amp_max"] == max(p)


def test_decode_wav_16bit_stereo_and_rejects_garbage(spark):
    """decode_wav handles files it did not build (stdlib-wave-written 16-bit
    stereo PCM) and quarantines non-WAV payloads loudly."""
    import io
    import struct
    import wave

    from test_flink_spark.operators.multimodal import decode_wav

    samples = [0, 1000, -1000, 32767, -32768, 7, -7, 250]  # 4 frames x 2 ch
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(struct.pack("<8h", *samples))
    df = spark.createDataFrame(
        [(1, "audio", bytearray(buf.getvalue()))],
        "media_id LONG, modality STRING, payload BINARY",
    )
    r = decode_wav(df).collect()[0]
    assert r["n_channels"] == 2 and r["sample_rate"] == 44100
    assert r["bits_per_sample"] == 16 and r["n_samples"] == 4
    assert r["amp_sum"] == sum(samples) and r["amp_max"] == max(samples)

    bad = spark.createDataFrame(
        [(2, "audio", bytearray(b"definitely not a wav file, but 44+ bytes long..."))],
        "media_id LONG, modality STRING, payload BINARY",
    )
    with pytest.raises(Exception, match="RIFF|WAVE"):
        decode_wav(bad).collect()


def test_jaccard_stop_shingle_cap(spark):
    """max_doc_freq drops boilerplate shingles from candidate generation:
    docs sharing ONLY a ubiquitous shingle stop pairing; genuinely similar
    docs still pair."""
    # boilerplate shingles appear in 3 docs (df=3); genuine near-dup
    # shingles appear in exactly 2 (df=2) — cap at 2 kills only boilerplate
    boiler = "common header line three"
    rows = [
        (1, f"{boiler} unique alpha beta gamma delta"),
        (2, f"{boiler} other epsilon zeta eta theta"),
        (5, f"{boiler} third iota kappa lambda mu"),
        (3, "near dup body text one two three four"),
        (4, "near dup body text one two three five"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, threshold=0.1).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, threshold=0.1, max_doc_freq=2).collect()
    }
    assert (1, 2) in uncapped  # paired via the boilerplate shingles
    assert (1, 2) not in capped  # cap kills the boilerplate-only pair
    assert (3, 4) in capped  # genuine near-dups survive (df == 2 shingles)


def _chain_docs(spark):
    """Chain-shaped near-dup graph: A~B, B~C, but NOT A~C (word-window
    overlap decays with distance) — exercises multi-hop label propagation."""
    w = [f"w{i}" for i in range(14)]
    rows = [
        (1, " ".join(w[0:10])),
        (2, " ".join(w[2:12])),
        (3, " ".join(w[4:14])),
        (9, "completely different singleton document body here"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_duplicate_clusters_chain_and_cache_discipline(spark):
    from test_flink_spark.operators.dedup import duplicate_clusters

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    out = duplicate_clusters(_chain_docs(spark), threshold=0.5)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    # transitively minimal: the whole chain collapses to min id 1
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}
    # cache discipline: everything unpersisted except the localCheckpoint
    # of the returned result (≤1 extra persistent RDD)
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 1, f"leaked persisted RDDs: {after - before}"


def test_duplicate_clusters_warns_on_nonconvergence(spark):
    import pytest as _pytest

    from test_flink_spark.operators.dedup import duplicate_clusters

    # a 3-node chain needs 2 rounds to reach the fixed point; max_iter=1
    # must WARN instead of silently returning partial clusters
    with _pytest.warns(RuntimeWarning, match="did not converge"):
        out = duplicate_clusters(_chain_docs(spark), threshold=0.5, max_iter=1)
        out.collect()


def test_duplicate_clusters_rejects_non_numeric_id(spark):
    """String ids have no bigint label (the cast fails, or turns them into
    NULLs that join no edge) — must raise a TypeError up front, not fail
    deep in the loop or return wrong clusters."""
    import pytest as _pytest

    from test_flink_spark.operators.dedup import duplicate_clusters

    docs = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z")], "doc_id STRING, text STRING"
    )
    with _pytest.raises(TypeError, match="numeric"):
        duplicate_clusters(docs, threshold=0.5)


def test_shared_clusters_memoized_per_session_and_input(spark):
    """The curation queries and dedup_clusters must reuse ONE checkpointed
    propagation result per (application, input files, threshold); the
    memo holds one entry, so another threshold replaces it."""
    from test_flink_spark.plans import llm_data

    llm_data.release_pinned_cache(llm_data._CLUSTERS_CACHE)
    a = llm_data._shared_clusters(spark, SF, threshold=0.5)
    b = llm_data._shared_clusters(spark, SF, threshold=0.5)
    assert a is b
    c = llm_data._shared_clusters(spark, SF, threshold=0.7)
    assert c is not a
    assert llm_data._shared_clusters(spark, SF, threshold=0.5) is not a
    llm_data.release_pinned_cache(llm_data._CLUSTERS_CACHE)


def test_near_dup_blocked_equals_brute(spark):
    """Block-pair matmul all-pairs must be BIT-exact vs the brute-force
    crossJoin form (same left-to-right fold arithmetic)."""
    from test_flink_spark.operators.similarity import near_dup_pairs, near_dup_pairs_blocked

    emb = load_table(spark, SF, "embeddings")
    brute = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in near_dup_pairs(emb, threshold=0.35, dim=64).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in near_dup_pairs_blocked(emb, threshold=0.35, dim=64, n_blocks=5).collect()
    }
    assert blocked == brute and len(brute) > 0


def _clustered_corpus(spark, n_clusters=8, per_cluster=25, dim=16):
    """Deterministic clustered vectors: unit-ish centers + small noise —
    within-cluster cosine > 0.9, across-cluster well below 0.5."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(n_clusters, dim))
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + rng.normal(scale=0.05, size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


def test_near_dup_lsh_exact_in_high_threshold_regime(spark):
    """At τ=0.85 (the regime near-dup dedup actually runs at) LSH candidate
    generation with 8 planes × 4 tables retains EVERY true pair on a
    clustered corpus — output identical to brute force."""
    from test_flink_spark.operators.similarity import near_dup_pairs, near_dup_pairs_lsh

    corpus = _clustered_corpus(spark)
    brute = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in near_dup_pairs(corpus, threshold=0.85, dim=16).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in near_dup_pairs_lsh(
            corpus, threshold=0.85, dim=16, n_planes=8, n_tables=4
        ).collect()
    }
    assert len(brute) > 100  # the corpus genuinely has near-dup structure
    assert lsh == brute


def test_frame_sample_layout_and_edges(spark):
    from test_flink_spark.operators.multimodal import frame_sample
    import pytest as _pytest
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, b"A" * 300), (2, b""), (3, b"B" * 128)],
        "media_id long, payload binary",
    )
    got = {
        (r["media_id"], r["frame_idx"]): r["frame_bytes"]
        for r in frame_sample(df, frame_bytes=128, every_k=2).collect()
    }
    # id 1: 300 bytes -> frames 0,1,2 (44-byte tail); sampled 0, 2
    # id 2: empty -> no frames; id 3: exactly one frame -> sampled 0
    assert got == {(1, 0): 128, (1, 2): 44, (3, 0): 128}
    with _pytest.raises(ValueError):
        frame_sample(df, frame_bytes=0)
    # map-side only: no Exchange in the plan
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        frame_sample(df).explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_ngram_containment_semantics(spark):
    from test_flink_spark.operators.decontam import ngram_containment

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id LONG, text STRING"
    )
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),     # exact copy -> 1.0
            (2, "alpha beta gamma zeta eta theta"),    # 1 of 4 shingles shared
            (3, "totally different words entirely here"),  # disjoint -> 0.0
            (4, "too short"),                          # < n words -> no shingles
        ],
        "doc_id LONG, text STRING",
    )
    rows = {
        r["doc_id"]: r
        for r in ngram_containment(train, bench, n=3, flag_threshold=0.5).collect()
    }
    assert rows[1]["containment"] == 1.0 and rows[1]["contaminated"]
    assert rows[2]["n_shingles"] == 4 and rows[2]["n_matched"] == 1
    assert rows[2]["containment"] == 0.25 and not rows[2]["contaminated"]
    assert rows[3]["n_matched"] == 0 and rows[3]["containment"] == 0.0
    assert rows[4]["n_shingles"] == 0 and rows[4]["containment"] == 0.0
    assert set(rows) == {1, 2, 3, 4}  # every train doc present, bench absent


def test_redact_pii_patterns_and_order(spark):
    from test_flink_spark.operators.redact import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x.io and b@y.co.uk twice"),
            (2, "ssn 123-45-6789 then phone (555) 010-1234"),
            (3, "server 192.168.1.1  has   spaces\tand tabs"),
            (4, "nothing sensitive here"),
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert rows[1]["n_email"] == 2 and "<EMAIL>" in rows[1]["clean_text"]
    assert "@" not in rows[1]["clean_text"]
    # SSN must be taken by the SSN pattern, not half-eaten by phone
    assert rows[2]["n_ssn"] == 1 and rows[2]["n_phone"] == 1
    assert rows[2]["clean_text"] == "ssn <SSN> then phone <PHONE>"
    assert rows[3]["n_ipv4"] == 1
    assert "  " not in rows[3]["clean_text"] and "\t" not in rows[3]["clean_text"]
    assert rows[4]["total_redactions"] == 0 and rows[4]["clean_text"] == "nothing sensitive here"


def test_ivf_ann_recall_and_determinism(spark):
    """IVF with nprobe=2 of k=4 lists must beat the trivial floor on
    recall@3 vs exact top-k (L2 on the same quantized vectors), and the
    whole pipeline must be invariant to input partitioning."""
    from test_flink_spark.operators.ivf import ivf_ann_topk, ivf_assign, ivf_train

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    centroids = ivf_train(emb, k=4, iters=2, dim=64)
    assert len(centroids) == 4 and all(len(c) == 64 for c in centroids)

    approx = ivf_ann_topk(emb, queries, centroids, k=3, nprobe=2).collect()
    # exact = same integer-L2 metric, all clusters probed
    exact = ivf_ann_topk(emb, queries, centroids, k=3, nprobe=4).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    hits = exact_set & {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(hits) / len(exact_set)
    assert recall > 0.4, f"IVF recall collapsed: {recall}"

    c2 = ivf_train(emb.repartition(13), k=4, iters=2, dim=64)
    assert c2 == centroids, "training must not depend on partitioning"

    inv = ivf_assign(emb, centroids)
    sizes = {r["cluster"]: r["n"] for r in
             inv.groupBy("cluster").agg(F.count("*").alias("n")).collect()}
    assert sum(sizes.values()) == emb.count()
    assert len(sizes) >= 2, "k-means degenerated to a single cluster"


def test_semantic_dedup_drops_planted_duplicates(spark):
    """Planted exact-duplicate vectors must be dropped in favor of the
    lowest id; distinct vectors survive."""
    from test_flink_spark.operators.ivf import ivf_train, semantic_dedup

    emb = load_table(spark, SF, "embeddings")
    # plant: vec 9001/9002 duplicate vec_id 0's embedding
    v0 = emb.filter(F.col("vec_id") == 0)
    clones = v0.select(
        F.explode(F.array(F.lit(9001), F.lit(9002))).alias("vec_id"),
        "embedding",
        "label",
    )
    df = emb.unionByName(clones)
    cents = ivf_train(df, k=4, iters=2, dim=64)
    out = {r["vec_id"]: r["keep"] for r in semantic_dedup(df, cents, tau=0).collect()}
    assert out[0] is True  # canonical (lowest id) survives
    assert out[9001] is False and out[9002] is False  # clones dropped
    assert len(out) == df.count()  # report covers every vector
    # tau=0 must not drop anything without an exact twin
    assert sum(not k for k in out.values()) == 2


def test_ivf_train_frac_oracle_parity(spark):
    """``train_frac < 1.0`` must keep the bit-for-bit replay guarantee:
    the DuckDB CTE chain (with the same hash-bucket training filter) must
    land on exactly the Spark centroids."""
    import duckdb

    from test_flink_spark.operators.ivf import ivf_cte_body, ivf_train

    emb = load_table(spark, SF, "embeddings")
    spark_cents = ivf_train(emb, k=4, iters=2, dim=64, train_frac=0.5)

    body, final_c = ivf_cte_body(k=4, iters=2, dim=64, train_frac=0.5)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
    )
    rows = con.execute(
        f"WITH {body} SELECT cid, v FROM {final_c} ORDER BY cid"
    ).fetchall()
    oracle_cents = [list(v) for _, v in rows]
    assert oracle_cents == spark_cents
    # and the sample is a strict, non-trivial subset
    n = emb.count()
    from test_flink_spark.operators.sampling import hash_bucket

    n_train = emb.filter(hash_bucket(F.col("vec_id"), "ivf-train") < 5000).count()
    assert 0 < n_train < n


def test_minhash_expression_matches_groupby_form(spark):
    """The shuffle-free ``minhash_signature_expr`` (the streaming form)
    must be bit-identical to the batch explode+groupBy
    ``minhash_signatures`` on every doc that has a signature in both —
    this is the parity claim the dedup module docstring makes.  Docs with
    fewer words than shingle_n have no rows in the groupBy form and a
    NULL signature in the expression form; both sets must agree on which
    docs those are."""
    from pyspark.sql import functions as F2

    from test_flink_spark.operators.dedup import (
        _minhash_signatures_agg,
        minhash_signature_expr,
        minhash_signatures,
    )
    from test_flink_spark.operators.text import words

    docs = load_table(spark, SF, "documents")
    got = {
        r["doc_id"]: list(r["signature"])
        for r in minhash_signatures(docs).collect()
    }
    # the Arrow map pass (production path since r12) must equal the
    # Tungsten-aggregate reference doc-for-doc, including the absent-row set
    agg = {
        r["doc_id"]: list(r["signature"])
        for r in _minhash_signatures_agg(docs).collect()
    }
    assert got == agg and len(got) > 0
    expr_rows = docs.select(
        "doc_id",
        minhash_signature_expr(F2.col("text")).alias("signature"),
        (F2.size(words(F2.col("text"))) >= 3).alias("has_shingles"),
    ).collect()
    want = {
        r["doc_id"]: list(r["signature"])
        for r in expr_rows
        if r["signature"] is not None
    }
    # expression form yields NULL exactly where the groupBy form has no row
    assert {r["doc_id"] for r in expr_rows if r["signature"] is None} == (
        {r["doc_id"] for r in expr_rows} - set(got)
    )
    # and where the groupBy row exists it has shingles per the words() gate
    assert all(r["has_shingles"] for r in expr_rows if r["doc_id"] in got)
    assert got == want and len(got) > 0


def test_span_ownership_first_doc_keeps(spark):
    """Of k copies of a duplicated span, the min-id doc is charged nothing
    and every later doc is charged; unique and too-short docs score 0."""
    from test_flink_spark.operators.span_dedup import span_ownership

    rows = [
        (0, "a b c d e f"),          # owner of every shared span
        (1, "a b c d e f"),          # exact copy -> all spans borrowed
        (2, "x y z a b c"),          # shares one 3-span (a b c) with doc 0
        (3, "p q"),                  # shorter than span_words -> no spans
        (4, "u v w u v w u v w"),    # self-repeats only -> owns its spans
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r.asDict() for r in span_ownership(df, span_words=3).collect()}
    assert len(out) == 5  # every doc present, including the span-less one
    assert out[0]["n_spans"] == 4 and out[0]["n_dup_spans"] == 0
    assert out[1]["n_spans"] == 4 and out[1]["n_dup_spans"] == 4
    assert out[1]["dup_frac"] == 1.0 and out[1]["flagged"]
    assert out[2]["n_spans"] == 4 and out[2]["n_dup_spans"] == 1
    assert out[2]["dup_frac"] == 0.25 and not out[2]["flagged"]
    assert out[3]["n_spans"] == 0 and out[3]["dup_frac"] == 0.0
    assert not out[3]["flagged"]
    # distinct-span semantics: doc 4's repeated "u v w" collapses; all owned
    assert out[4]["n_dup_spans"] == 0 and not out[4]["flagged"]


def test_gopher_rules_each_rule_rejects(spark):
    from test_flink_spark.operators.text import gopher_quality_flags

    good = "the quick brown fox jumps over a lazy dog of means and ends to win in style"
    docs = [
        (0, good),                                  # passes all
        (1, "the a of"),                            # word count
        (2, "a b c d e f g h i j the of"),          # mean word len < 3
        (3, good + " # # # # # # # # # # # # #"),   # symbol ratio
        (4, "1 2 3 4 5 6 7 8 9 10 11 12 the of"),   # alpha frac
        (5, "quick brown fox jumps over lazy dog"), # stopwords
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_quality_flags(df, min_words=10).collect()
    }
    assert out[0]["passes"]
    assert not out[1]["rule_word_count"] and not out[1]["passes"]
    assert not out[2]["rule_mean_len"] and not out[2]["passes"]
    assert not out[3]["rule_symbol"] and not out[3]["passes"]
    assert not out[4]["rule_alpha"] and not out[4]["passes"]
    assert not out[5]["rule_stopwords"] and not out[5]["passes"]


def test_unigram_surprisal_buckets_exact(spark):
    """Hand-computed integer log2 buckets: reference = 8 'the' + 4 'cat' +
    2 'sat' + 2 'mat' (total 16) -> buckets the=1, cat=2, sat=3, mat=3;
    OOV scores floor(log2(16)) + 1 = 5 bits."""
    from test_flink_spark.operators.lm_score import unigram_surprisal_scores

    ref = spark.createDataFrame(
        [(100, "the the the the the the the the cat cat cat cat sat sat mat mat")],
        "doc_id LONG, text STRING",
    )
    score = spark.createDataFrame(
        [
            (0, "the the cat"),        # (1+1+2)/3
            (1, "zorp the"),           # (5+1)/2 = 3.0, one OOV
            (2, "zorp blix qux"),      # all OOV -> 5.0
        ],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r.asDict() for r in unigram_surprisal_scores(score, ref).collect()}
    assert out[0]["sum_bits"] == 4 and out[0]["mean_bits"] == round(4 / 3, 4)
    assert out[0]["n_oov"] == 0
    assert out[1]["sum_bits"] == 6 and out[1]["mean_bits"] == 3.0
    assert out[1]["n_oov"] == 1
    assert out[2]["sum_bits"] == 15 and out[2]["mean_bits"] == 5.0
    assert out[2]["n_oov"] == 3 and not out[2]["flagged"]


def test_unigram_surprisal_flags_gibberish_tail(spark):
    from test_flink_spark.operators.lm_score import unigram_surprisal_scores

    ref = spark.createDataFrame(
        [(i, "common words repeated everywhere always") for i in range(50)],
        "doc_id LONG, text STRING",
    )
    score = spark.createDataFrame(
        [(0, "common words repeated"), (1, "xq zv wk jn qp mz")],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r.asDict() for r in unigram_surprisal_scores(score, ref, flag_high=5.0).collect()}
    assert not out[0]["flagged"] and out[1]["flagged"]
    assert out[1]["n_oov"] == 6


def test_quantize_int8_roundtrip_bound(spark):
    """Codes are in [-127, 127], the max component hits ±127 exactly, and
    reconstruction error never exceeds half a grid step."""
    from test_flink_spark.operators.quantize import (
        dequantize_error_stats,
        quantize_int8,
    )

    rows = [
        (0, [1.0, -0.5, 0.25, 0.0]),
        (1, [-2.0, 2.0, 0.003, 1.999]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # all-zero vector: scale 0, codes 0
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    q = {r["vec_id"]: r.asDict() for r in quantize_int8(df).collect()}
    assert q[0]["codes"] == [127, -64, 32, 0] and q[0]["scale"] == 1.0
    assert q[1]["codes"][0] == -127 and q[1]["codes"][1] == 127
    assert q[2]["codes"] == [0, 0, 0, 0] and q[2]["scale"] == 0.0
    e = {r["vec_id"]: r.asDict() for r in dequantize_error_stats(df).collect()}
    for vid in (0, 1, 2):
        assert e[vid]["max_abs_err_q"] <= 0.5
    assert e[2]["sum_abs_err_q"] == 0.0


def test_ivfadc_refine_recovers_exact_ranks(spark):
    """IVFADC's exact-refine stage must agree with plain IVF (same probes,
    exact distances) on every candidate both retain: identical (query,
    neighbor, dist) tuples wherever both produce a rank, and recall of the
    ADC path vs full IVF top-5 >= 0.9 (compression only prunes, the refine
    corrects approximate ordering)."""
    from test_flink_spark.operators.ivf import ivf_ann_topk, ivf_train, ivfadc_ann_topk
    from test_flink_spark.schemas import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    cents = ivf_train(emb, k=4, iters=1, dim=64)
    q = emb.filter("vec_id < 10")
    ivf = {
        (r["query_id"], r["neighbor_id"]): r["dist"]
        for r in ivf_ann_topk(emb, q, cents, k=5, nprobe=2).collect()
    }
    adc = {
        (r["query_id"], r["neighbor_id"]): r["dist"]
        for r in ivfadc_ann_topk(emb, q, cents, k=5, nprobe=2, refine=3).collect()
    }
    for key, dist in adc.items():
        if key in ivf:
            assert ivf[key] == dist  # exact rerank distance, not approximate
    hits = sum(1 for key in ivf if key in adc)
    assert hits / len(ivf) >= 0.9


def test_ppm_wrap_decode_roundtrip_and_strictness(spark):
    """decode_ppm(ppm_wrap(x)) must equal a hand-computed numpy decode of
    the same zero-padded bytes; non-P6 payloads must raise."""
    import numpy as np

    from test_flink_spark.operators.multimodal import decode_ppm, ppm_wrap

    w, h = 4, 2
    payloads = [
        (0, "image", bytes(range(10))),          # short -> zero-padded
        (1, "image", bytes(range(200, 0, -1)) * 2),  # long -> truncated
    ]
    df = spark.createDataFrame(
        payloads, "media_id LONG, modality STRING, payload BINARY"
    )
    got = {
        r["media_id"]: r.asDict()
        for r in decode_ppm(ppm_wrap(df, width=w, height=h)).collect()
    }
    for mid, _, raw in payloads:
        body = (raw + b"\x00" * (w * h * 3))[: w * h * 3]
        img = np.frombuffer(body, np.uint8).reshape(h, w, 3).astype(int)
        r = got[mid]
        assert (r["width"], r["height"]) == (w, h)
        assert r["r_sum"] == img[:, :, 0].sum()
        assert r["g_sum"] == img[:, :, 1].sum()
        assert r["b_sum"] == img[:, :, 2].sum()
        assert r["rgb_max"] == img.max()

    bad = spark.createDataFrame(
        [(9, "image", b"JFIF not a ppm")],
        "media_id LONG, modality STRING, payload BINARY",
    )
    with pytest.raises(Exception, match="P6 PPM"):
        decode_ppm(bad).collect()


def test_ppm_resize_nearest_matches_numpy(spark):
    """resize_ppm_nearest must select exactly img[floor(y*h/H)][floor(x*w/W)]
    and re-encode a valid P6 that decode_ppm accepts."""
    import numpy as np

    from test_flink_spark.operators.multimodal import (
        decode_ppm,
        ppm_wrap,
        resize_ppm_nearest,
    )

    w, h, ow, oh = 6, 4, 3, 2
    raw = bytes((i * 7) % 256 for i in range(w * h * 3))
    df = spark.createDataFrame(
        [(5, "image", raw)], "media_id LONG, modality STRING, payload BINARY"
    )
    resized = resize_ppm_nearest(
        ppm_wrap(df, width=w, height=h), ow, oh
    ).collect()[0]
    img = np.frombuffer(raw, np.uint8).reshape(h, w, 3)
    ys = (np.arange(oh) * h) // oh
    xs = (np.arange(ow) * w) // ow
    want = img[ys][:, xs]
    assert bytes(resized["payload"]) == f"P6\n{ow} {oh}\n255\n".encode() + want.tobytes()
    dec = decode_ppm(
        spark.createDataFrame(
            [(5, "image", bytes(resized["payload"]))],
            "media_id LONG, modality STRING, payload BINARY",
        )
    ).collect()[0]
    assert dec["r_sum"] == int(want[:, :, 0].sum())
    assert dec["rgb_max"] == int(want.max())


def test_ahash_locality_and_numpy_parity(spark):
    """aHash must (a) match a hand-computed reference, (b) be identical for
    identical images, (c) move few bits for a small edit and more for an
    unrelated image — the perceptual-bucket property image dedup rests on."""
    import numpy as np

    from test_flink_spark.operators.multimodal import ahash_ppm

    rng = np.random.default_rng(7)
    base = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    near = base.copy()
    near[0, 0] = [255, 255, 255]  # one-pixel edit
    far = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)

    def p6(img):
        return b"P6\n8 8\n255\n" + img.tobytes()

    df = spark.createDataFrame(
        [
            (0, "image", p6(base)),
            (1, "image", p6(base)),
            (2, "image", p6(near)),
            (3, "image", p6(far)),
        ],
        "media_id LONG, modality STRING, payload BINARY",
    )
    got = {r["media_id"]: r.asDict() for r in ahash_ppm(df).collect()}

    gray = base.astype(int).reshape(64, 3).sum(axis=1) // 3
    mean = int(gray.sum()) // 64
    bits = [1 if g > mean else 0 for g in gray]
    assert got[0]["ahash_hi"] == sum(b << i for i, b in enumerate(bits[:32]))
    assert got[0]["ahash_lo"] == sum(b << i for i, b in enumerate(bits[32:]))
    assert got[0]["n_set"] == sum(bits)

    def hamming(a, b):
        return bin(a["ahash_hi"] ^ b["ahash_hi"]).count("1") + bin(
            a["ahash_lo"] ^ b["ahash_lo"]
        ).count("1")

    assert hamming(got[0], got[1]) == 0
    assert hamming(got[0], got[2]) <= 4
    assert hamming(got[0], got[3]) > 4

    bad = spark.createDataFrame(
        [(9, "image", b"P6\n4 4\n255\n" + bytes(48))],
        "media_id LONG, modality STRING, payload BINARY",
    )
    with pytest.raises(Exception, match="8x8"):
        ahash_ppm(bad).collect()


def test_audio_fingerprint_locality_and_reference(spark):
    """Energy-delta fingerprint must match a hand-computed reference,
    be invariant for identical audio, and move few bits for a localized
    edit — the bucketing property audio near-dup rests on."""
    from test_flink_spark.operators.multimodal import (
        wav_energy_fingerprint,
        wav_wrap,
    )

    W = 8
    base = bytes((37 * i) % 251 for i in range(400))
    near = bytearray(base)
    near[5] = 255  # one-sample edit -> only window 0's energy moves
    far = bytes((91 * i + 13) % 251 for i in range(353))
    df = spark.createDataFrame(
        [(0, "audio", base), (1, "audio", base), (2, "audio", bytes(near)), (3, "audio", far)],
        "media_id LONG, modality STRING, payload BINARY",
    )
    got = {
        r["media_id"]: r.asDict()
        for r in wav_energy_fingerprint(wav_wrap(df), n_windows=W).collect()
    }

    n = len(base)
    bounds = [(n * w) // W for w in range(W + 1)]
    e = [sum(base[bounds[w] : bounds[w + 1]]) for w in range(W)]
    ln = [bounds[w + 1] - bounds[w] for w in range(W)]
    want = sum(
        (1 << w) for w in range(W - 1) if e[w] * ln[w + 1] > e[w + 1] * ln[w]
    )
    assert got[0]["fp"] == want
    assert got[0]["n_samples"] == n and got[0]["energy_sum"] == sum(base)
    assert got[0]["fp"] == got[1]["fp"]
    assert bin(got[0]["fp"] ^ got[2]["fp"]).count("1") <= 2
    # different length AND different content: fingerprints shouldn't match
    assert got[0]["fp"] != got[3]["fp"]

    with pytest.raises(Exception, match="RIFF/WAVE"):
        wav_energy_fingerprint(
            spark.createDataFrame(
                [(9, "audio", b"mp3 junk")],
                "media_id LONG, modality STRING, payload BINARY",
            )
        ).collect()


def test_video_frame_jaccard_finds_planted_near_dups(spark, tmp_path, monkeypatch):
    """Two videos sharing most sampled frames must pair above the
    threshold; unrelated byte streams must not pair."""
    from test_flink_spark.plans import llm_data as L

    base = bytes((11 * i) % 256 for i in range(64 * 20))  # 20 frames
    near = base[: 64 * 18] + bytes(64 * 2)  # last 2 frames replaced
    far = bytes((201 * i + 7) % 256 for i in range(64 * 20))
    media = spark.createDataFrame(
        [(2, "video", base), (5, "video", near), (8, "video", far)],
        "media_id LONG, modality STRING, payload BINARY",
    )
    monkeypatch.setattr(L, "_media", lambda spark_, sf_: media)
    got = {
        (r["id_a"], r["id_b"]): r["frame_jaccard"]
        for r in L.multimodal_video_frame_jaccard(spark, "ignored").collect()
    }
    assert (2, 5) in got and got[(2, 5)] >= 0.5
    assert all(8 not in pair for pair in got)


def test_multimodal_dup_flags_consistent_with_families(spark):
    """The integration row must agree with each modality family it
    composes: planted exact text dups are flagged in all three modalities
    (same bytes -> same image hash, same audio profile), and any_dup is
    the OR of the three columns."""
    from test_flink_spark.plans import llm_data as L

    rows = {
        r["doc_id"]: r.asDict()
        for r in L.corpus_multimodal_dup_flags(spark, SF).collect()
    }
    assert len(rows) == 500
    for r in rows.values():
        assert r["any_dup"] == (
            r["dup_text_of"] is not None
            or r["dup_img_of"] is not None
            or r["dup_audio_of"] is not None
        )
        for c in ("dup_text_of", "dup_img_of", "dup_audio_of"):
            if r[c] is not None:
                assert r[c] < r["doc_id"]


def test_multimodal_dup_flags_planted_exact_dup(spark, monkeypatch):
    """A planted byte-identical document must be flagged in EVERY modality
    (same bytes -> same signatures, same image hash, same audio profile),
    with dup_*_of pointing at the earliest copy; unique docs stay clean."""
    from test_flink_spark.plans import llm_data as L

    # texts longer than the 576-byte image body, so the thumbnails carry
    # real content (a near-empty zero-padded image hashes alike for ANY
    # short doc — correct behavior, wrong fixture)
    texts = {
        0: " ".join(f"alpha{i % 7}" for i in range(120)),
        1: " ".join(f"zz{(i * 13) % 31}word" for i in range(110)),
        2: " ".join(f"alpha{i % 7}" for i in range(120)),  # dup of 0
        3: " ".join(f"qqq{(i * 29) % 97}" for i in range(115)),
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in texts.items()],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    monkeypatch.setattr(L, "_docs", lambda s, sf: docs)
    monkeypatch.setattr(
        L,
        "_media",
        lambda s, sf: docs.select(
            F.col("doc_id").alias("media_id"),
            F.lit("image").alias("modality"),
            F.encode("text", "UTF-8").alias("payload"),
        ),
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in L.corpus_multimodal_dup_flags(spark, "ignored").collect()
    }
    assert got[2]["dup_text_of"] == 0
    assert got[2]["dup_img_of"] == 0
    assert got[2]["dup_audio_of"] == 0
    assert got[2]["any_dup"]
    for i in (0, 1, 3):
        assert not got[i]["any_dup"], i


def test_split_drift_separates_fair_from_biased_splits(spark, monkeypatch):
    """On a corpus of two well-separated embedding clusters, a
    feature-independent hash split mixes both clusters into every split
    (centroids near the global mean, small L1 drift), while a
    cluster-aligned split puts the clusters in different splits
    (centroid drift ~ the cluster separation).  Also pins the exact
    quantized drift of a hand-built two-vector case."""
    import test_flink_spark.operators.sampling as S
    from test_flink_spark.plans import llm_data as L

    dim = 4
    rows = []
    for i in range(2000):
        center = 1.5 if i % 2 == 0 else -1.5  # clusters interleave ids
        rows.append((i, [center + (i % 7) * 1e-3] * dim, i % 2))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    monkeypatch.setattr(L, "_emb", lambda s, sf: emb)

    fair = {
        (r["split_a"], r["split_b"]): r["l1_fp"]
        for r in L.embedding_split_drift(spark, SF).collect()
    }
    assert set(fair) == {("test", "train"), ("test", "val"), ("train", "val")}

    def biased_split(df, id_col="vec_id", **kw):
        return df.withColumn(
            "split",
            F.when(F.col("label") == 0, "train")
            .when(F.col("vec_id") % 4 == 1, "val")
            .otherwise("test"),
        )

    monkeypatch.setattr(S, "train_val_test_split", biased_split)
    biased = {
        (r["split_a"], r["split_b"]): r["l1_fp"]
        for r in L.embedding_split_drift(spark, SF).collect()
    }
    # biased train (cluster +1.5) vs val/test (cluster -1.5): per-dim gap
    # ~3.0 -> l1 ~ 4 dims * 3e6; the hash split mixes clusters -> far less
    assert biased[("train", "val")] > 10 * max(fair.values()), (fair, biased)
    assert biased[("train", "val")] > 2_500_000 * dim


def test_containment_flags_subsumed_doc(spark):
    """A short doc whose shingles all appear in a long doc reaches
    containment 10000 bp even when its Jaccard vs the long doc is far
    below the near-dup bar — the asymmetric case the operator exists
    for; unrelated docs produce no pair."""
    from test_flink_spark.operators.dedup import containment_pairs

    long_words = " ".join(f"w{i}" for i in range(40))
    short_words = " ".join(f"w{i}" for i in range(5))  # contained prefix
    other = " ".join(f"z{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, long_words), (2, short_words), (3, other)],
        "doc_id LONG, text STRING",
    )
    out = containment_pairs(df, threshold_bp=5000).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["containment_bp"] == 10000 and r["n_b"] == 3  # 5 words -> 3 shingles
    # and Jaccard for the same pair is 3/38 — invisible to the 0.5 bar
    assert r["shared"] == 3 and r["n_a"] == 38


def test_containment_pairs_releases_shingle_index(spark):
    """Each call leaves only its pinned result: the capped shingle index
    is released, so releasing the result keeps the session's pins from
    growing over repeated calls."""
    from test_flink_spark.operators.dedup import containment_pairs
    from test_flink_spark.session import pins

    df = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i, i + 12))) for i in range(20)],
        "doc_id LONG, text STRING",
    )
    # compared as id sets: pins of earlier tests may be cleaned meanwhile
    jmap = spark.sparkContext._jsc.getPersistentRDDs
    before = set(jmap().keySet().toArray())
    for _ in range(3):
        with pins():
            out = containment_pairs(df, threshold_bp=5000)
            assert len(set(jmap().keySet().toArray()) - before) == 1
            assert out.count() > 0
        assert not set(jmap().keySet().toArray()) - before


def test_minhash_audit_candidates_have_band_floor(spark):
    """Every LSH candidate shares a FULL band (4 of 16 permutations), so
    the signature-agreement estimate is never below 4·625 = 2500 bp; a
    planted near-identical pair estimates high AND its exact Jaccard is
    present (not the coalesced 0)."""
    from test_flink_spark.plans import llm_data as L
    import unittest.mock as um

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "wholly unrelated words here now")],
        "doc_id LONG, text STRING",
    )
    with um.patch.object(L, "_docs", lambda s, sf: docs):
        rows = L.dedup_minhash_estimate_audit(spark, "ignored").collect()
    assert rows, "planted near-dup produced no candidate"
    for r in rows:
        assert r["est_bp"] >= 2500, r  # full-band agreement floor
        assert r["err_bp"] == r["est_bp"] - r["exact_bp"]
    planted = [r for r in rows if (r["id_a"], r["id_b"]) == (1, 2)]
    assert planted and planted[0]["exact_bp"] > 7000


def test_perplexity_buckets_split_30_40_30(spark):
    """With 10 same-language docs the head/middle/tail split is exactly
    3/4/3, ordered by surprisal: the lowest-surprisal docs (common
    words) land in head, rare-word docs in tail."""
    from test_flink_spark.plans import llm_data as L
    import unittest.mock as um

    common = "the quick brown fox " * 5
    docs = spark.createDataFrame(
        [(i, common if i < 5 else common + f"rare{i} " * (i - 3), "en")
         for i in range(10)],
        "doc_id LONG, text STRING, lang STRING",
    )
    with um.patch.object(L, "_docs", lambda s, sf: docs):
        got = {
            r["ppl_bucket"]: r["n_docs"]
            for r in L.corpus_perplexity_buckets(spark, "ignored").collect()
        }
    assert got == {"head": 3, "middle": 4, "tail": 3}, got


def test_video_shot_segments_matches_reference(spark):
    """video_shot_segments must reproduce a python reference on payloads
    with KNOWN structure: a flat video (no cuts), one hard cut (bright
    half then dark half), and a ragged tail frame."""
    from test_flink_spark.operators.multimodal import video_shot_segments

    flat = bytes([50] * 256)                      # 4 frames, no cuts
    cut = bytes([200] * 128 + [10] * 128)         # cut between f1 and f2
    ragged = bytes([50] * 64 + [200] * 64 + [50] * 40)  # 3 frames, partial
    df = spark.createDataFrame(
        [(1, bytearray(flat)), (2, bytearray(cut)), (3, bytearray(ragged))],
        "media_id LONG, payload BINARY",
    )
    got = {
        r["media_id"]: (
            r["n_frames"], r["n_cuts"], r["n_shots"], r["longest_shot"]
        )
        for r in video_shot_segments(df).collect()
    }

    def ref(b):
        n = len(b)
        nf = (n + 63) // 64
        es = [sum(b[w * 64 : min((w + 1) * 64, n)]) for w in range(nf)]
        ds = [abs(es[w] - es[w + 1]) for w in range(nf - 1)]
        sd = sum(ds)
        cuts = [w + 1 for w in range(nf - 1) if ds[w] * (nf - 1) > sd]
        cp = [0] + cuts + [nf]
        return (nf, len(cuts), len(cuts) + 1,
                max(cp[k + 1] - cp[k] for k in range(len(cp) - 1)))

    assert got == {1: ref(flat), 2: ref(cut), 3: ref(ragged)}
    assert got[1][1] == 0          # flat: no cuts
    assert got[2][1] == 1          # hard cut detected


def test_pmi_ranks_exclusive_pair_above_promiscuous(spark, tmp_path, monkeypatch):
    """A bigram whose words appear ONLY together must out-PMI an equally
    frequent bigram of corpus-wide stopwords (PMI's defining property —
    raw frequency ranks them identically)."""
    from test_flink_spark.plans.llm_data import text_pmi_collocations

    # 'zig zag' always together (4x); 'the of' co-occurs 4x but both words
    # flood the rest of the corpus
    docs = [(i, "zig zag and the of x" + str(i)) for i in range(4)] + [
        (i + 10, "the the the of of of filler" + str(i)) for i in range(4)
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    d = tmp_path / "documents.parquet"
    df.write.mode("overwrite").parquet(str(d.parent / "documents.parquet"))
    out = {
        r["bg"]: r["pmi"]
        for r in text_pmi_collocations(spark, str(tmp_path)).collect()
    }
    assert "zig zag" in out
    assert "the of" in out
    assert out["zig zag"] > out["the of"]


def test_feature_hashing_monotone_and_exhaustive(spark):
    from test_flink_spark.plans.llm_data import text_feature_hashing_audit

    rows = text_feature_hashing_audit(spark, SF).collect()
    by_dim = {r["dim"]: r for r in sorted(rows, key=lambda r: r["dim"])}
    dims = sorted(by_dim)
    assert len(dims) == 3
    vocab = {r["vocab"] for r in rows}
    assert len(vocab) == 1  # same vocabulary hashed into every dim
    for d in dims:
        r = by_dim[d]
        # bucket accounting must be exhaustive: every term is either the
        # first in its bucket (occupied) or a collision casualty
        assert r["occupied"] + r["collided_terms"] == r["vocab"]
        assert r["max_load"] >= 1
    # more buckets => no more collisions (monotone in dim)
    collided = [by_dim[d]["collided_terms"] for d in dims]
    assert collided == sorted(collided, reverse=True)


def test_trigram_index_is_lossless_prefilter(spark, tmp_path):
    """Candidates must be a superset of true matches (n_missed == 0) and
    a planted scattered-trigram doc must appear as a false positive."""
    from test_flink_spark.plans.llm_data import (
        _TRGM_PATTERNS,
        text_trigram_index_audit,
    )

    pat = _TRGM_PATTERNS[0]  # 'table key'
    docs = [
        (1, f"prefix {pat} suffix"),          # true match
        # every trigram of the pattern present, but never contiguous:
        # each trigram island is separated by 'zz' so no longer substring
        # of the pattern survives
        (2, "zz".join(pat[i : i + 3] for i in range(len(pat) - 2))),
        (3, "nothing relevant here"),
    ]
    spark.createDataFrame(docs, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["pattern"]: r
        for r in text_trigram_index_audit(spark, str(tmp_path)).collect()
    }
    r = rows[pat]
    assert r["n_missed"] == 0
    assert r["n_true"] == 1
    assert r["n_candidates"] == 2  # doc 2 is the engineered false positive
    assert r["precision_bp"] == 5000


def test_label_confusion_conserves_and_beats_random(spark):
    """Every vector lands in exactly one confusion cell, and the diagonal
    (own centroid nearest) must far exceed the 1/|labels| random
    baseline — the labels do cluster (cf. embedding_cluster_purity)."""
    from test_flink_spark.plans.llm_data import embedding_label_confusion
    from test_flink_spark.schemas import load_table

    sf = "/root/testdata/sf0.01"
    rows = embedding_label_confusion(spark, sf).collect()
    n_vecs = load_table(spark, sf, "embeddings").count()
    labels = {r["own_label"] for r in rows}
    assert sum(r["n_vecs"] for r in rows) == n_vecs
    diag = sum(r["n_vecs"] for r in rows if r["own_label"] == r["nearest_label"])
    assert diag / n_vecs > 3.0 / len(labels)  # 0.41 measured vs 0.1 random


def test_nprobe_sweep_recall_monotone(spark):
    """Probing more inverted lists can only ADD candidates: recall@5 must
    rise monotonically in nprobe and stay within [0, 10000]."""
    from test_flink_spark.plans.llm_data import embedding_ivf_nprobe_sweep

    rows = sorted(
        embedding_ivf_nprobe_sweep(spark, SF).collect(),
        key=lambda r: r["nprobe"],
    )
    assert [r["nprobe"] for r in rows] == [1, 2, 4]
    recalls = [r["recall_bp"] for r in rows]
    assert recalls == sorted(recalls)
    assert all(0 <= r <= 10_000 for r in recalls)


def test_phash_brightness_invariance_and_parity(spark):
    """pHash's selling point over aHash: a uniform brightness shift
    changes only the DC coefficient, so phash bits are IDENTICAL while
    dc_fp moves; an unrelated image lands many bits away.  Also pins
    numpy parity with a hand-computed reference via the shared basis."""
    import numpy as np

    from test_flink_spark.operators.multimodal import (
        PHASH_BLOCK,
        PHASH_C,
        phash_ppm,
    )

    rng = np.random.default_rng(11)
    base = rng.integers(0, 200, (8, 8, 3), dtype=np.uint8)
    bright = np.minimum(base.astype(np.int64) + 30, 255).astype(np.uint8)
    far = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)

    def p6(img):
        return b"P6\n8 8\n255\n" + img.tobytes()

    df = spark.createDataFrame(
        [(0, "image", p6(base)), (1, "image", p6(bright)), (2, "image", p6(far))],
        "media_id LONG, modality STRING, payload BINARY",
    )
    got = {r["media_id"]: r.asDict() for r in phash_ppm(df).collect()}

    # hand reference for the base image
    c4 = np.array(PHASH_C[:PHASH_BLOCK], dtype=np.int64)
    gray = (base.astype(np.int64).sum(axis=2) // 3)
    d = c4 @ gray @ c4.T
    ac = [int(d[u, v]) for u in range(4) for v in range(4) if (u, v) != (0, 0)]
    med = sorted(ac)[7]
    ref = sum((1 if a > med else 0) << i for i, a in enumerate(ac))
    assert got[0]["phash"] == ref and got[0]["dc_fp"] == int(d[0, 0])

    # +30 brightness: all 15 AC coefficients unchanged -> identical hash
    # (+30 shifts gray by exactly 10 everywhere: gray' = (r+g+b+90)//3,
    # and no channel saturates at <200+30)
    assert got[1]["phash"] == got[0]["phash"]
    assert got[1]["dc_fp"] > got[0]["dc_fp"]

    def ham(a, b):
        return bin(a["phash"] ^ b["phash"]).count("1")

    assert ham(got[0], got[2]) >= 4  # unrelated image: far in hamming space


def test_incremental_cluster_merge_equals_full_recompute(spark):
    """The production shape: prior labels are PERSISTED (round-tripped
    through parquet, lineage severed), a new shard's edges merge in via
    the condensed-graph CC, and the result must be row-identical to a
    full batch recompute over corpus+shard."""
    import tempfile

    from test_flink_spark.operators.dedup import (
        duplicate_clusters,
        incremental_cluster_merge,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, SF, "documents")
    srcn = F.substring("source", 4, 10).cast("int")
    index_docs, shard = docs.filter(srcn < 15), docs.filter(srcn >= 15)

    with tempfile.TemporaryDirectory() as td:
        duplicate_clusters(index_docs, threshold=0.5).write.parquet(
            f"{td}/prior"
        )
        prior = spark.read.parquet(f"{td}/prior")
        shard_ids = {r["doc_id"] for r in shard.select("doc_id").collect()}
        new_edges = ngram_jaccard_pairs(docs, threshold=0.5).filter(
            F.col("id_a").isin(shard_ids) | F.col("id_b").isin(shard_ids)
        )
        inc = {
            (r["doc_id"], r["cluster_id"])
            for r in incremental_cluster_merge(
                prior, new_edges, docs.select("doc_id")
            ).collect()
        }
    full = {
        (r["doc_id"], r["cluster_id"])
        for r in duplicate_clusters(docs, threshold=0.5).collect()
    }
    assert inc == full, (
        f"incremental diverged from batch on {len(inc ^ full)} rows: "
        f"{sorted(inc ^ full)[:6]}"
    )


def test_ivfpq_recall_vs_exact_and_code_shape(spark):
    """IVF-PQ (4x16 residual codebooks) must recover most of the exact
    top-5 after the k·refine exact rerank — the measured recall@5 the
    serving config needs — and PQ training must be partitioning-
    invariant like the coarse codebook."""
    from test_flink_spark.operators.ivf import (
        ivf_train,
        ivfpq_ann_topk,
        pq_train,
    )
    from test_flink_spark.operators.similarity import cosine_topk

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    coarse = ivf_train(emb, k=4, iters=2, dim=64)
    books = pq_train(emb, coarse, dim=64)
    assert len(books) == 4 and all(len(b) == 16 for b in books)
    assert all(len(cw) == 16 for b in books for cw in b)

    # all-lists probe so refine isolates pure PQ candidate-ranking loss;
    # refine=1000 > corpus = the integer-L2 exhaustive truth.  On this
    # random corpus 4x16 codebooks carry 16 bits vs 64 noise dims, so
    # absolute recall at small refine is modest by construction — assert
    # the floor (random pick of 15/500 candidates would land ~3%) and
    # that the refine knob buys recall monotonically (measured
    # 0.26/0.54/0.76 at refine 3/10/20).
    exact = ivfpq_ann_topk(
        emb, queries, coarse, books, k=5, nprobe=4, refine=1000
    ).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}

    def recall(refine):
        got = ivfpq_ann_topk(
            emb, queries, coarse, books, k=5, nprobe=4, refine=refine
        ).collect()
        return len(
            exact_set & {(r["query_id"], r["neighbor_id"]) for r in got}
        ) / len(exact_set)

    r3, r20 = recall(3), recall(20)
    assert r3 > 0.1, f"refine=3 recall at the random floor: {r3}"
    assert r20 > max(r3, 0.5), f"refine knob bought nothing: {r3} -> {r20}"

    b2 = pq_train(emb.repartition(13), coarse, dim=64)
    assert b2 == books, "PQ training must not depend on partitioning"


def test_streaming_ivf_assign_matches_batch(spark, tmp_path):
    """New vectors streaming into the ANN index must receive EXACTLY the
    batch assignment and PQ codes (codebooks enter as literals — the
    persisted-artifact shape), across micro-batch boundaries."""
    from test_flink_spark.operators.ivf import ivf_assign, ivf_train, pq_train
    from test_flink_spark.streaming.ann_ingest import streaming_ivf_assign

    emb = load_table(spark, SF, "embeddings")
    coarse = ivf_train(emb, k=4, iters=2, dim=64)
    books = pq_train(emb, coarse, dim=64)

    # batch truth: assignment + codes from the search operator's encoder
    want_cluster = {
        r["neighbor_id"]: r["cluster"] for r in ivf_assign(emb, coarse).collect()
    }
    # arrival split into 2 micro-batches by parquet file
    src = tmp_path / "vec_stream"
    src.mkdir()
    emb.filter(F.col("vec_id") % 2 == 0).write.parquet(str(src / "b0"))
    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 100)
        .parquet(str(src) + "/*")
    )
    out = streaming_ivf_assign(stream, coarse, books)
    q = (
        out.writeStream.queryName("ann_ingest").format("memory")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ann"))
        .start()
    )
    try:
        q.processAllAvailable()
        emb.filter(F.col("vec_id") % 2 == 1).write.parquet(str(src / "b1"))
        q.processAllAvailable()
        got = {
            r["vec_id"]: (r["cluster"], tuple(r["codes"]))
            for r in spark.table("ann_ingest").collect()
        }
    finally:
        q.stop()
    assert len(got) == emb.count()
    assert {k: v[0] for k, v in got.items()} == want_cluster
    # spot-check PQ codes against the numpy encoder through a search at
    # refine covering everything: identical codes => identical ADC order
    # (full equality of codes checked via the expression/numpy cross-impl)
    import numpy as np

    cents = np.asarray(coarse, dtype=np.int64)
    bks = np.asarray(books, dtype=np.int64)
    rows = emb.select("vec_id", "embedding").collect()
    for r in rows[:50]:
        x = np.floor(np.asarray(r["embedding"], dtype=np.float64) * 1_000_000).astype(np.int64)
        cl = ((x - cents) ** 2).sum(axis=1).argmin()
        res = x - cents[cl]
        codes = tuple(
            int(((res[s * 16 : (s + 1) * 16] - bks[s]) ** 2).sum(axis=1).argmin())
            for s in range(4)
        )
        assert got[r["vec_id"]] == (cl, codes), r["vec_id"]


def test_duplicate_substrings_recovers_planted_spans(spark):
    """Planted-duplicate construction check for duplicate_substrings:
    a shared run is injected into otherwise-unique documents at
    ADVERSARIAL alignments (different offsets in each doc, one at the
    very start, one at the very end) and the detector must report the
    planted span exactly — pair, length, and both 1-based start
    positions.  Also pins the two negative contracts: runs shorter than
    the winnowing guarantee (w + k - 1 = 6 tokens) need not appear, and
    unique-text pairs never do."""
    from test_flink_spark.operators.span_dedup import duplicate_substrings

    dup = "zeta eta theta iota kappa lam mu nu"  # 8 tokens
    filler_a = "a1 a2 a3 a4 a5"
    filler_b = "b1 b2 b3 b4 b5 b6 b7"
    docs = [
        # doc 1: planted run at tokens 6..13; doc 2: at 1..8 (start edge)
        (1, f"{filler_a} {dup} x1 x2 x3"),
        (2, f"{dup} y1 y2 y3 y4"),
        # doc 3: planted at the very END (tokens 8..15) — right-boundary clamp
        (3, f"{filler_b} {dup}"),
        # doc 4: unique text, shares nothing
        (4, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        # docs 5/6: share only a 4-token run — below the w+k-1=6 guarantee
        (5, "short run one two d1 d2 d3 d4"),
        (6, "e1 e2 e3 short run one two e4"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = {
        (r["id_a"], r["id_b"]): (r["len_tokens"], r["start_a"], r["start_b"])
        for r in duplicate_substrings(df, k=3, w=4, ext=10, max_df=8).collect()
    }
    # every planted pair recovered with exact geometry
    assert out[(1, 2)] == (8, 6, 1)
    assert out[(1, 3)] == (8, 6, 8)
    assert out[(2, 3)] == (8, 1, 8)
    # no pair involves the unique doc, and the sub-guarantee run stays
    # below reporting length if it surfaces at all
    assert not any(4 in p for p in out)
    assert (5, 6) not in out


def test_band_join_candidate_bill_bounded_under_hot_shingle(spark):
    """Adversarial skew fixture for the inverted-index band joins (r7
    verdict item 8): 300 documents all carrying one boilerplate sentence
    concentrate its shingles into hot join keys — the uncapped candidate
    bill is O(n²) through those keys, and a pathological corpus would
    make the equi-join itself the bottleneck no matter how the rows are
    partitioned.  The shipped guard is ``max_doc_freq`` (the
    stop-shingle cap): with it, every kept key's bucket is <= cap, so
    the bill is bounded by n_keys·C(cap,2) regardless of corpus shape.
    This test measures both bills with the same groupBy arithmetic the
    dedup_simhash_band_occupancy audit uses, asserts the cap fires, and
    asserts the cap costs NO recall here: boilerplate-only overlap is
    exactly the signal the cap is designed to drop (those pairs are
    below threshold anyway), while the planted true near-dup pair
    survives.  Belt-and-braces behind the cap: the session runs with
    spark.sql.adaptive.skewJoin.enabled, so a residual hot key within
    the cap is split at runtime; for hot AGGREGATION keys the explicit
    escape hatch is operators/skew.py's deterministic salting."""
    from pyspark.sql import functions as F

    from test_flink_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_hashes,
    )

    hot = "all rights reserved contact us today"
    rows = [(i, f"{hot} u{i}a u{i}b u{i}c u{i}d") for i in range(1, 301)]
    rows += [
        (1001, "q1 q2 q3 q4 q5 q6 q7 q8"),
        (1002, "q1 q2 q3 q4 q5 q6 q7 q8"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    cap = 8

    def bill(sh):
        return (
            sh.groupBy("h")
            .agg(F.count(F.lit(1)).alias("k"))
            .agg(F.sum(F.expr("k * (k - 1) div 2")).alias("b"))
            .collect()[0]["b"]
        )

    sh = shingle_hashes(df)
    raw_bill = bill(sh)
    # the 6-token boilerplate yields 4 all-boilerplate shingles shared by
    # all 300 docs: >= 4 * C(300,2) candidate pairs before the cap
    assert raw_bill >= 4 * (300 * 299) // 2
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df_"))
    kept = sh.join(
        freq.filter(F.col("df_") <= cap).select("h"), "h"
    )
    capped_bill = bill(kept)
    n_keys = kept.select("h").distinct().count()
    assert capped_bill <= n_keys * (cap * (cap - 1)) // 2
    assert capped_bill < raw_bill // 100  # the cap actually fired
    # recall contract: the true near-dup pair survives the cap; the 300
    # boilerplate carriers never pair (their only overlap was capped out,
    # and was below the Jaccard threshold even uncapped)
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            df, threshold=0.5, max_doc_freq=cap
        ).collect()
    }
    assert got == {(1001, 1002)}


def test_ivfpq_sampled_train_recall_parity(spark):
    """The sampled-train claim, asserted: training IVF-PQ codebooks on
    the 50% hash sample must not cost recall — per-query hits against
    the exact integer-L2 top-5 for the sampled and full codebooks stay
    within a 10-hit band (of 100 possible) of each other.  Result-set
    overlap between the variants is NOT asserted: nprobe=2 list
    membership is codebook-sensitive on this near-isotropic corpus even
    when recall is identical (measured ~9% overlap at equal recall)."""
    from pyspark.sql import functions as F

    from test_flink_spark.plans.llm_data import embedding_ivfpq_sampled_train

    df = embedding_ivfpq_sampled_train(spark, "/root/testdata/sf0.01")
    r = df.agg(
        F.sum("hits_sampled").alias("s"),
        F.sum("hits_full").alias("f"),
        F.sum("n_exact").alias("n"),
    ).collect()[0]
    assert r["n"] == 100
    assert abs(r["s"] - r["f"]) <= 10, (r["s"], r["f"])


def test_ivf_balance_audit_invariants(spark):
    """embedding_ivf_balance_audit structural invariants: the lists
    partition the corpus (sizes sum to the vector count), at most k=8
    lists exist, and the ppm column is exactly the integer identity
    floor(size * 1e6 * k / n_total) — so a reader can recover absolute
    sizes from ppm and vice versa."""
    from pyspark.sql import functions as F

    from test_flink_spark.plans.llm_data import embedding_ivf_balance_audit
    from test_flink_spark.schemas import load_table

    sf = "/root/testdata/sf0.01"
    out = embedding_ivf_balance_audit(spark, sf).collect()
    n = load_table(spark, sf, "embeddings").count()
    assert 0 < len(out) <= 8
    assert sum(r["list_size"] for r in out) == n
    k = 8
    for r in out:
        assert r["imbalance_ppm"] == r["list_size"] * 1_000_000 * k // n


def test_filtered_ann_probe_compensation_pays(spark):
    """embedding_filtered_ann's nprobe=4 choice is evidence-backed: on
    the filtered (same-label) exact truth, the compensated probe count
    must recover strictly more of the top-5 than the unfiltered
    operating point nprobe=2 (measured at sf0.01: 72 vs 37 of 100)."""
    import __spark_entry__ as entry

    rows = entry.queries()["embedding_filtered_ann_recall"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    t2 = sum(r["hits_np2"] for r in rows)
    t4 = sum(r["hits_np4"] for r in rows)
    assert sum(r["n_exact"] for r in rows) == 100
    assert t4 > t2, (t2, t4)
    assert t4 >= 60  # compensation recovers a solid majority of truth


def test_curriculum_order_matches_naive_ntile_replay(spark):
    """corpus_curriculum_order's histogram-derived rank + closed-form
    NTILE must equal a naive python replay (global sort + SQL-standard
    ntile) on a fixture with score ties, and every epoch's positions must
    be a gap-free 0..n-1 round-robin interleave."""
    import unittest.mock as um

    import test_flink_spark.plans.llm_data as L

    # 23 docs, engineered token mixes -> tied and distinct diversity scores
    docs = []
    for i in range(23):
        uniq = (i % 7) + 1
        toks = [f"w{j}" for j in range(uniq)] + ["pad"] * (10 - uniq)
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    with um.patch.object(L, "_docs", lambda s, sf: df):
        got = {
            (r["epoch"], r["doc_id"]): (r["bucket"], r["pos"])
            for r in L.corpus_curriculum_order(spark, "ignored").collect()
        }

    # naive replay
    scored = []
    for i, text in docs:
        w = [x for x in text.split() if x]
        scored.append((i, len(set(w)) * 10000 // max(len(w), 1)))
    order = sorted(scored, key=lambda t: (-t[1], t[0]))
    n, k = len(order), L._CURR_K
    q, r = divmod(n, k)
    buckets = {}
    starts = {}
    pos_in_bucket = {}
    for rank, (i, _) in enumerate(order, start=1):
        if q == 0:
            b, start = rank, rank
        elif rank <= r * (q + 1):
            b = (rank - 1) // (q + 1) + 1
            start = (b - 1) * (q + 1) + 1
        else:
            b = r + (rank - r * (q + 1) - 1) // q + 1
            start = r * (q + 1) + (b - 1 - r) * q + 1
        buckets[i] = b
        pos_in_bucket[i] = rank - start
    expected = {}
    for epoch, mb in L._CURR_SCHEDULE:
        for i, _ in scored:
            if buckets[i] <= mb:
                expected[(epoch, i)] = (
                    buckets[i],
                    pos_in_bucket[i] * mb + buckets[i] - 1,
                )
    assert got == expected, (got, expected)
    # positions within each epoch are unique (a valid training order)
    for epoch, _ in L._CURR_SCHEDULE:
        ps = [p for (e, _), (_, p) in got.items() if e == epoch]
        assert len(ps) == len(set(ps))


def test_cluster_sharding_keeps_clusters_whole(spark):
    """Every near-dup cluster must land in exactly ONE shard: the per-shard
    distinct-cluster counts must sum to the GLOBAL distinct cluster count,
    and doc/char totals must conserve the corpus."""
    import test_flink_spark.plans.llm_data as L

    sf = "/root/testdata/sf0.001"
    out = L.corpus_cluster_sharding(spark, sf).collect()
    labels = L._shared_clusters(spark, sf, threshold=0.5)
    n_docs = labels.count()
    n_clusters = labels.select("cluster_id").distinct().count()
    assert sum(r["n_docs"] for r in out) == n_docs
    assert sum(r["n_clusters"] for r in out) == n_clusters
    assert all(0 <= r["shard"] < L._CS_SHARDS for r in out)


def test_capped_pair_oracle_parity_when_cap_binds(spark):
    """The r12 cap rollout's missing regime at certified SFs: every
    fixture's max shingle doc-frequency sits BELOW NGRAM_MAX_DOC_FREQ
    (sf0.01 = 7, sf0.1 = 25, sf1 = 135), so the sf-dir differentials
    never exercise a FIRING cap.  This test closes that gap on a
    synthetic hot corpus (300 boilerplate-only carriers, df = 300 > 256,
    plus one planted genuine near-dup pair):

      1. Spark `ngram_jaccard_pairs` (capped default) must equal the
         capped DuckDB oracle `_jaccard_sql()` row for row — the oracle
         replays the doc-frequency filter, not just the happy path;
      2. the UNCAPPED oracle (`_jaccard_sql(cap=None)`) must disagree
         (the C(300,2) boilerplate pairs) — proving the cap actually
         fired in both engines rather than being vacuously equal;
      3. same pair of claims for `containment_pairs` via a cap=None
         rebuild of _CONTAINMENT_SQL's algebra.
    """
    import duckdb
    import pandas as pd

    from test_flink_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )
    from test_flink_spark.plans.llm_data import _capped_sh_ctes, _jaccard_sql

    hot = "all rights reserved contact us today"
    rows = [(i, f"{hot} u{i}") for i in range(1, 301)]
    rows += [
        (1001, "q1 q2 q3 q4 q5 q6 q7 q8"),
        (1002, "q1 q2 q3 q4 q5 q6 q7 q8"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )

    def duck_jaccard(sql):
        return {
            (a, b): j
            for a, b, j in con.execute(sql).fetchall()
        }

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    capped_oracle = duck_jaccard(_jaccard_sql())
    uncapped_oracle = duck_jaccard(_jaccard_sql(cap=None))
    assert got == capped_oracle
    assert got == {(1001, 1002): 1.0}
    # the uncapped form admits every boilerplate carrier pair: the cap
    # fired, and the oracle's filter is what matched it
    assert len(uncapped_oracle) == (300 * 299) // 2 + 1

    cont_sql_capped = f"""
WITH {_capped_sh_ctes()},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, (shared * 10000) // LEAST(sa.n_sh, sb.n_sh) AS cbp
FROM shared
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE (shared * 10000) // LEAST(sa.n_sh, sb.n_sh) >= 5000
"""
    got_c = {
        (r["id_a"], r["id_b"]): r["containment_bp"]
        for r in containment_pairs(df, threshold_bp=5000).collect()
    }
    capped_c = {
        (a, b): c for a, b, c in con.execute(cont_sql_capped).fetchall()
    }
    uncapped_c = con.execute(
        cont_sql_capped.replace(
            _capped_sh_ctes(), _capped_sh_ctes(cap=None)
        )
    ).fetchall()
    assert got_c == capped_c
    assert got_c == {(1001, 1002): 10000}
    assert len(uncapped_c) == (300 * 299) // 2 + 1
