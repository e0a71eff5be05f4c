"""North-star LLM-data-pipeline queries (BASELINE.json): text analysis,
deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash), embedding
similarity search, multimodal columns — over ``documents`` / ``embeddings``.

Oracle parity trick: every hash is md5-derived and every vector fold mirrors
Spark's left-to-right double arithmetic, so DuckDB reproduces signatures and
similarities bit-for-bit — even the MinHash-LSH candidate pairs and the
32-bit SimHash are fully differential-tested, not just rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    NGRAM_MAX_DOC_FREQ,
    exact_dedup,
    minhash_lsh_pairs,
    simhash,
)
from ..operators.multimodal import media_stats
from ..operators.similarity import (
    cosine_topk,
    lsh_bucket_topk,
    near_dup_pairs_blocked,
    near_dup_pairs_lsh,
)
from ..operators.text import fingerprint, language_id, quality_scores, token_stats
from ..operators.fanout import fan_out
from ..schemas import load_table
# release_pinned_cache is re-exported: callers release the memos below by it
from ..session import Memo, apply_runtime_confs, pin, release_pinned_cache  # noqa: F401

EMB_DIM = 64


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    apply_runtime_confs(spark)
    return load_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(_docs(spark, sf_dir))


_TOKEN_SQL = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS n_bpe_tokens,
       length(text) AS n_chars_computed
FROM documents
"""


def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(_docs(spark, sf_dir))


_QUALITY_SQL = r"""
WITH w AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND(AVG(length(w)), 4) AS avg_word_len,
       ROUND(AVG(CASE WHEN w IN ('the','a','of','and','to','in') THEN 1 ELSE 0 END), 4)
           AS stopword_ratio,
       ROUND(COUNT(DISTINCT w) * 1.0 / COUNT(*), 4) AS distinct_ratio
FROM w GROUP BY 1
"""


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(_docs(spark, sf_dir))


def _langid_sql() -> str:
    from ..operators.text import LANG_MARKERS

    score = {
        lang: " + ".join(
            f"(len(string_split(' '||trim(text)||' ', ' {m} ')) - 1)" for m in markers
        )
        for lang, markers in LANG_MARKERS.items()
    }
    scores_sel = ", ".join(f"({expr}) AS s_{lang}" for lang, expr in score.items())
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    cases = " ".join(
        f"WHEN s_{lang} > 0 AND s_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    return f"""
WITH s AS (SELECT doc_id, {scores_sel} FROM documents)
SELECT doc_id, CASE {cases} ELSE 'und' END AS pred_lang FROM s
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_docs(spark, sf_dir))


_FINGERPRINT_SQL = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents)
SELECT doc_id,
       md5(array_to_string(ws, ' ')) AS fp_md5,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT)),
           (acc, h) -> (acc * 31 + h) % 2147483647) AS fp_rolling
FROM w
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


_DEDUP_EXACT_SQL = r"""
SELECT md5(array_to_string(string_split_regex(trim(text), '\s+'), ' ')) AS fp_md5,
       MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs at the production threshold,
    riding the NGRAM_MAX_DOC_FREQ stop-shingle cap (r12 rollout: the
    uncapped inverted-index self-join is quadratic in per-shingle doc
    frequency — the r11 sf10 probe's one confirmed scale failure class).
    The oracle replays the cap's doc-frequency filter bit for bit.
    Pairs come from the session-shared capped pair base
    (_pair_base_jaccard — bit-identical to
    ngram_jaccard_pairs(_docs(...), threshold=0.5))."""
    return _pair_base_jaccard(spark, sf_dir, threshold=0.5)


def _capped_sh_ctes(cap: int | None = NGRAM_MAX_DOC_FREQ) -> str:
    """The shared DuckDB CTE chain ``ws, sh_all, sh`` where ``sh`` is the
    (doc_id, h) 60-bit shingle-hash table AFTER the stop-shingle
    doc-frequency cap — the exact replay of shingle_hashes + the
    NGRAM_MAX_DOC_FREQ filter every capped pair oracle rides (r12 cap
    rollout; operators/dedup.py::NGRAM_MAX_DOC_FREQ).  ``cap=None``
    emits the uncapped chain (sh = sh_all) for audit-harness strings."""
    capped = (
        f"sh AS (SELECT doc_id, h FROM sh_all\n"
        f"       WHERE h IN (SELECT h FROM sh_all GROUP BY h"
        f" HAVING COUNT(*) <= {cap}))"
        if cap is not None
        else "sh AS (SELECT doc_id, h FROM sh_all)"
    )
    return rf"""ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh_all AS (
    -- DISTINCT on the 60-bit hash, matching the Spark side's map-side
    -- array_distinct over hashed shingles (hash-collision semantics are
    -- the shipped spec; the index join key is the same int)
    SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM ws) WHERE s IS NOT NULL AND s <> ''
),
{capped}"""


def _jaccard_sql(cap: int | None = NGRAM_MAX_DOC_FREQ) -> str:
    return rf"""
WITH {_capped_sh_ctes(cap)},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(shared * 1.0 / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
FROM shared
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE shared * 1.0 / (sa.n_sh + sb.n_sh - shared) >= 0.5
"""


_JACCARD_SQL = _jaccard_sql()


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(_docs(spark, sf_dir), num_perm=16, bands=4)


def _minhash_kv_cte(num_perm: int = 16, bands: int = 4) -> str:
    """CTE chain reproducing minhash_signatures + lsh_band_keys exactly
    (one md5 base hash per shingle, same affine (a_p, b_p) permutations,
    same ':'-joined band-slice md5 keys), ending in
    ``kv(doc_id, band, bk)`` — the band index both the batch pair query
    and the incremental shard query join on."""
    from ..operators.dedup import MINHASH_MOD, minhash_coeffs

    coeffs = minhash_coeffs(num_perm)
    mins = ",\n           ".join(
        f"MIN((CAST({a} AS BIGINT) * h + {b}) % {MINHASH_MOD}) AS h{p}"
        for p, (a, b) in enumerate(coeffs)
    )
    rows_per_band = num_perm // bands
    band_keys = ",\n           ".join(
        "md5("
        + " || ':' || ".join(
            f"h{p}::VARCHAR" for p in range(band * rows_per_band, (band + 1) * rows_per_band)
        )
        + f") AS bk{band}"
        for band in range(bands)
    )
    bk_unnest = ", ".join(f"bk{band}" for band in range(bands))
    return rf"""ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh AS (
    SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM ws) WHERE s IS NOT NULL AND s <> ''
),
base AS (
    SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_MOD} AS h FROM sh
),
sig AS (
    SELECT doc_id,
           {mins}
    FROM base GROUP BY 1
),
bands AS (
    SELECT doc_id,
           {band_keys}
    FROM sig
),
kv AS (
    SELECT doc_id, band, bk FROM bands
    UNPIVOT (bk FOR band IN ({bk_unnest}))
)"""


def _minhash_sql(num_perm: int = 16, bands: int = 4) -> str:
    """Reproduces minhash_signatures/minhash_lsh_pairs exactly: one md5 base
    hash per shingle + the same affine (a_p, b_p) permutations."""
    return f"""
WITH {_minhash_kv_cte(num_perm, bands)}
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM kv a JOIN kv b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
"""


_SHARD_MIN_SRC = 15  # sources srcN with N >= this are the "new shard"


def dedup_incremental_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: sources src15..src19 arrive as a NEW shard and
    are checked against the EXISTING corpus (src0..src14) — but the corpus
    side enters ONLY as its LSH band index (operators/dedup.py::
    incremental_lsh_dedup + lsh_band_keys), the artifact a production
    pipeline persists between ingests.  One row per shard doc:
    (doc_id, dup_of, is_dup), dup_of = smallest matching prior doc.

    At 100 TB the corpus text is never re-read on ingest day: the band
    index is O(docs × bands) 16-byte keys, stored bucketed by band_key so
    each shard probe is a co-located hash join, and kept docs' keys are
    appended to the index afterwards.  Oracle replays the full signature +
    band construction for both sides in DuckDB."""
    from ..operators.dedup import incremental_lsh_dedup

    docs = _docs(spark, sf_dir)
    srcn = F.substring("source", 4, 10).cast("int")
    shard = docs.filter(srcn >= _SHARD_MIN_SRC)
    index = _shard_corpus_index(spark, sf_dir)
    return incremental_lsh_dedup(index, shard, num_perm=16, bands=4, shingle_n=3)


# The corpus band index IS the persisted artifact this query models — a
# production pipeline reads it from its bucketed table, it is not rebuilt
# per ingest.  A session memo (docs/DESIGN_DECISIONS.md, "Pin ownership")
# keeps it pinned, so repeated queries pay the true incremental cost:
# shard signing + two hash-join probes.
_SHARD_INDEX_CACHE = Memo()


def _shard_corpus_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import lsh_band_keys, minhash_signatures

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.substring("source", 4, 10).cast("int") < _SHARD_MIN_SRC)
    return _SHARD_INDEX_CACHE.get(spark, [docs], (), lambda: pin(
        lsh_band_keys(minhash_signatures(corpus, num_perm=16, shingle_n=3))
    ))


def _incremental_shard_sql(num_perm: int = 16, bands: int = 4) -> str:
    return f"""
WITH {_minhash_kv_cte(num_perm, bands)},
src AS (SELECT doc_id, CAST(substr(source, 4) AS INT) AS sn FROM documents),
ckv AS (SELECT k.* FROM kv k JOIN src USING (doc_id) WHERE sn < {_SHARD_MIN_SRC}),
skv AS (SELECT k.* FROM kv k JOIN src USING (doc_id) WHERE sn >= {_SHARD_MIN_SRC}),
m AS (
    SELECT s.doc_id, c.doc_id AS m
    FROM skv s JOIN ckv c ON s.band = c.band AND s.bk = c.bk
    UNION ALL
    SELECT a.doc_id, b.doc_id AS m
    FROM skv a JOIN skv b ON a.band = b.band AND a.bk = b.bk AND b.doc_id < a.doc_id
),
agg AS (SELECT doc_id, MIN(m) AS dup_of FROM m GROUP BY 1)
SELECT d.doc_id, a.dup_of AS dup_of, a.dup_of IS NOT NULL AS is_dup
FROM (SELECT doc_id FROM src WHERE sn >= {_SHARD_MIN_SRC}) d
LEFT JOIN agg a USING (doc_id)
"""


def corpus_domain_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality percentile gate: keep each source's top-40% docs
    by lexical diversity (distinct_ratio from quality_scores), rank ties
    broken by doc_id.  The standard curation move when absolute quality
    thresholds would gut low-resource domains: every domain keeps its own
    best P%, so the mix survives the gate.

    Scale shape: quality scoring is the zero-shuffle array-expression pass;
    the gate is ONE window over (source) — domains are the natural
    partition key and their doc counts are bounded by ingest sharding, so
    no global sort and no skew beyond what AQE splits.  kept is decided by
    integer cross-multiplication (rk*100 <= 40*n_domain), no float
    percentile."""
    docs = _docs(spark, sf_dir)
    q = quality_scores(docs).join(docs.select("doc_id", "source"), "doc_id")
    bysrc = Window.partitionBy("source")
    w = bysrc.orderBy(F.col("distinct_ratio").desc(), F.col("doc_id").asc())
    return q.select(
        "doc_id",
        "source",
        "distinct_ratio",
        F.row_number().over(w).cast("long").alias("rk"),
        F.count(F.lit(1)).over(bysrc).cast("long").alias("n_domain"),
    ).withColumn("kept", F.col("rk") * 100 <= F.lit(40) * F.col("n_domain"))


_DOMAIN_PCT_SQL = r"""
WITH w AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
),
q AS (
    SELECT doc_id, ROUND(COUNT(DISTINCT w) * 1.0 / COUNT(*), 4) AS distinct_ratio
    FROM w GROUP BY 1
),
r AS (
    SELECT q.doc_id, d.source, q.distinct_ratio,
           ROW_NUMBER() OVER (PARTITION BY d.source
                              ORDER BY q.distinct_ratio DESC, q.doc_id ASC) AS rk,
           COUNT(*) OVER (PARTITION BY d.source) AS n_domain
    FROM q JOIN documents d USING (doc_id)
)
SELECT doc_id, source, distinct_ratio, rk, n_domain,
       rk * 100 <= 40 * n_domain AS kept
FROM r
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_docs(spark, sf_dir), bits=32)


def _simhash_sql(bits: int = 32) -> str:
    votes = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(bits)
    )
    fold = " + ".join(
        f"CASE WHEN v{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return rf"""
WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM w),
v AS (SELECT doc_id, {votes} FROM h GROUP BY 1)
SELECT doc_id, {fold} AS simhash FROM v
"""


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------

# DuckDB double-precision cosine mirroring Spark's left-fold arithmetic
# exactly (the builtin list_cosine_similarity computes in float32 — ~1e-8
# off, enough to flip a ROUND boundary).
_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, {d}), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (x, y) -> x + y)"
)


def _cos_sql(a: str, b: str, dim: int = EMB_DIM) -> str:
    d = dim + 1
    dot = _DOT.format(a=a, b=b, d=d)
    na = _DOT.format(a=a, b=a, d=d)
    nb = _DOT.format(a=b, b=b, d=d)
    return f"({dot} / (sqrt({na}) * sqrt({nb})))"


def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk(emb, queries, k=5, dim=EMB_DIM).select("query_id", "neighbor_id", "sim", "rank")


def _topk_sql() -> str:
    cos = _cos_sql("qv", "cv")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
s AS (
    SELECT query_id, neighbor_id, ROUND({cos}, 4) AS sim
    FROM c CROSS JOIN q WHERE neighbor_id <> query_id
),
r AS (
    SELECT query_id, neighbor_id, sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM s
)
SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 5
"""


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs via block-pair matmul (operators/similarity.py::
    near_dup_pairs_blocked) — O(n·B) communication, no Cartesian product,
    bit-identical fold arithmetic; the brute-force crossJoin form is
    test-only and backs the SQL oracle."""
    return near_dup_pairs_blocked(_emb(spark, sf_dir), threshold=0.35, dim=EMB_DIM)


_LSH_TABLES = 8
_LSH_MIN_PLANES = 6   # floor: below this the buckets are a cross join
_LSH_MAX_PLANES = 16  # cap: plane literals baked into the oracle SQL


def _lsh_adaptive_planes(n: int) -> int:
    """Corpus-derived hyperplane count: smallest p in [6, 16) with
    n <= 2**(p+1) (expected bucket occupancy <= ~2 vectors/bucket), else
    16.  Integer-threshold ladder, NOT floating log2, so Spark and the
    DuckDB oracle derive the identical count at every corpus size (the
    oracle replays the same CASE ladder over COUNT(*)).  This is the
    sizing rule the round-7 sf1 probe forced: a fixed 6-plane geometry
    (64 buckets/table) measured 200 s at 10x data — O(n^2/64) candidate
    pairs — while 10 derived planes ran in 23 s.  Buckets must scale
    with the corpus, exactly like SimHash band keys."""
    for p in range(_LSH_MIN_PLANES, _LSH_MAX_PLANES):
        if n <= (1 << (p + 1)):
            return p
    return _LSH_MAX_PLANES


def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-candidate + exact-rerank near-dup pairs at CORPUS-ADAPTIVE
    geometry: planes = _lsh_adaptive_planes(COUNT(*)) (occupancy ~<= 2
    vectors/bucket at any scale), 8 OR-amplified tables.  Through round 7
    this name carried a fixed 6-plane point whose sf1 probe measured
    200 s at 10x data (44x) — retired; the derived count (8 at sf0.01's
    500 vectors, 10 at sf0.1's 2000, 14 at sf1's 20000) keeps candidate
    volume linear in the corpus.  The count() driving the derivation is
    parquet-footer metadata, not a data scan.  Recall at τ=0.35 on this
    near-isotropic corpus is partial by design (≥98% in the real
    near-dup regime sim≥0.9, pytest-measured on a clustered corpus) —
    which is why the ORACLE reproduces the whole ALGORITHM in SQL
    (same COUNT(*)→planes ladder, md5-seeded plane PREFIX — plane p
    depends only on (p, seed), so the 16 baked literals serve every
    derived count → sign buckets → first-collision candidate dedup →
    exact rerank): the driver verifies every emitted pair and every
    recall loss bit-for-bit.  Exact-by-construction near-dup at low
    thresholds is ``embedding_near_dup`` (block matmul)."""
    # broadcast_vectors stays at the default False: the (id → vec, norm)
    # side is ONE ROW PER CORPUS POINT, so a hard broadcast hint is the
    # r5 gate's bug class (fine at 2k vectors, driver-fatal at 10^9).
    # The candidate re-rank joins on id — the planner still broadcasts
    # the small side at bench scale from size stats.
    emb = _emb(spark, sf_dir)
    n_planes = _lsh_adaptive_planes(emb.count())
    return near_dup_pairs_lsh(
        emb, threshold=0.35, dim=EMB_DIM,
        n_planes=n_planes, n_tables=_LSH_TABLES,
    )


def _near_dup_lsh_sql(n_tables: int = _LSH_TABLES) -> str:
    """DuckDB replica of near_dup_pairs_lsh at the adaptive geometry:
    same hyperplanes (md5-seeded, prefix-stable in the plane index — the
    16 baked plane literals serve every derived count), same COUNT(*) →
    plane-count integer ladder, same sign-bit buckets, same
    first-collision dedup, same rerank/round."""
    from ..operators.similarity import hyperplanes_seeded

    rows = []
    for t in range(n_tables):
        planes = hyperplanes_seeded(EMB_DIM, _LSH_MAX_PLANES, seed=t)
        for p, coefs in enumerate(planes):
            lit = ", ".join(repr(c) for c in coefs)
            rows.append(f"({t}, {p}, [{lit}]::DOUBLE[])")
    values = ",\n".join(rows)
    ladder = " ".join(
        f"WHEN n <= {1 << (p + 1)} THEN {p}"
        for p in range(_LSH_MIN_PLANES, _LSH_MAX_PLANES)
    )
    dot = _DOT.format(a="v.embedding", b="pl.coefs", d=EMB_DIM + 1)
    cos = _cos_sql("va.embedding", "vb.embedding")
    return f"""
WITH planes(t, p, coefs) AS (VALUES
{values}
),
params AS (
    SELECT CASE {ladder} ELSE {_LSH_MAX_PLANES} END AS np
    FROM (SELECT COUNT(*) AS n FROM embeddings)
),
v AS (SELECT vec_id, embedding FROM embeddings),
dots AS (
    SELECT v.vec_id, pl.t, pl.p, {dot} AS dot
    FROM v CROSS JOIN planes pl
    WHERE pl.p < (SELECT np FROM params)
),
bk AS (
    SELECT vec_id, t,
           CAST(SUM(CASE WHEN dot >= 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
    FROM dots GROUP BY 1, 2
),
barr AS (SELECT vec_id, list(bucket ORDER BY t) AS buckets FROM bk GROUP BY 1),
e AS (SELECT bk.vec_id, bk.t, bk.bucket, barr.buckets
      FROM bk JOIN barr USING (vec_id)),
cand AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM e a JOIN e b ON a.t = b.t AND a.bucket = b.bucket
                      AND a.vec_id < b.vec_id
    WHERE list_position(
              list_transform(range(1, {n_tables + 1}),
                             i -> a.buckets[i] = b.buckets[i]),
              true) = a.t + 1
)
SELECT c.id_a, c.id_b, ROUND({cos}, 4) AS sim
FROM cand c
JOIN embeddings va ON va.vec_id = c.id_a
JOIN embeddings vb ON vb.vec_id = c.id_b
WHERE ROUND({cos}, 4) >= 0.35
"""


def _near_dup_sql() -> str:
    cos = _cos_sql("a.embedding", "b.embedding")
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({cos}, 4) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND({cos}, 4) >= 0.35
"""


_ANN_PLANES = 4
_ANN_TABLES = 8


def embedding_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH — 4 planes × 8 OR-amplified
    tables (~0.63 recall@5 on this corpus, pytest-measured vs exact top-k).
    With weakly clustered embeddings (max pairwise cosine ≈ 0.5 here)
    per-plane collision prob is ~0.6, so recall comes from table count, not
    plane count — at 100 TB this is the knob that trades candidate volume
    for recall.  The oracle replays the whole ALGORITHM in SQL (md5-seeded
    planes → sign buckets → distinct bucket-collision candidates → exact
    rerank → rank window), the same discipline as embedding_near_dup_lsh —
    every emitted neighbor AND every recall miss is verified bit-for-bit."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return lsh_bucket_topk(
        emb, queries, dim=EMB_DIM, k=5, n_planes=_ANN_PLANES, n_tables=_ANN_TABLES
    ).select("query_id", "neighbor_id", "sim", "rank")


def _lsh_ann_sql() -> str:
    """DuckDB replica of lsh_bucket_topk at the registered parameter point:
    identical hyperplanes (md5-seeded floats, emitted as literals), identical
    ascending-dimension dot-product folds (see _DOT — sign bits cannot flip
    between engines), DISTINCT over the per-table candidate union (the
    dropDuplicates), then the same ROUND(…,4)/neighbor-id rank window as
    the exact top-k oracle."""
    from ..operators.similarity import hyperplanes_seeded

    rows = []
    for t in range(_ANN_TABLES):
        planes = hyperplanes_seeded(EMB_DIM, _ANN_PLANES, seed=t)
        for p, coefs in enumerate(planes):
            lit = ", ".join(repr(c) for c in coefs)
            rows.append(f"({t}, {p}, [{lit}]::DOUBLE[])")
    values = ",\n".join(rows)
    dot = _DOT.format(a="v.embedding", b="pl.coefs", d=EMB_DIM + 1)
    cos = _cos_sql("va.embedding", "vb.embedding")
    return f"""
WITH planes(t, p, coefs) AS (VALUES
{values}
),
v AS (SELECT vec_id, embedding FROM embeddings),
dots AS (
    SELECT v.vec_id, pl.t, pl.p, {dot} AS dot
    FROM v CROSS JOIN planes pl
),
bk AS (
    SELECT vec_id, t,
           CAST(SUM(CASE WHEN dot >= 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
    FROM dots GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM bk q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
    WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
),
s AS (
    SELECT cand.query_id, cand.neighbor_id, ROUND({cos}, 4) AS sim
    FROM cand
    JOIN embeddings va ON va.vec_id = cand.query_id
    JOIN embeddings vb ON vb.vec_id = cand.neighbor_id
),
r AS (
    SELECT query_id, neighbor_id, sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM s
)
SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Multimodal columns (payloads fabricated from document text — the container
# ships no media libs; plumbing is real, decode is a marked stub).
# ---------------------------------------------------------------------------

def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )


def multimodal_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_stats(_media(spark, sf_dir))
    return m.groupBy("modality").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n_bytes").alias("total_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )


_MEDIA_STATS_SQL = """
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       COUNT(*) AS cnt,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       MAX(octet_length(encode(text))) AS max_bytes
FROM documents GROUP BY 1
"""


def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL dependency-free media decode with a full value-hash oracle
    (r3 VERDICT #6; this row was rows-only while decode was the fake stub).
    Payloads are wrapped as canonical mono 8-bit PCM WAV by pure JVM binary
    construction (operators/multimodal.py::wav_wrap), then decoded by an
    actual RIFF parser (decode_wav: magic validation, struct header unpack,
    numpy PCM stats).  The oracle recomputes the expected header fields and
    integer amplitude stats independently from the pre-wrap source text
    (ASCII corpus: ord(char) == byte) — a construct→decode roundtrip check;
    stdlib-``wave`` parity is pinned separately in pytest."""
    from ..operators.multimodal import decode_wav, wav_wrap

    decoded = decode_wav(wav_wrap(_media(spark, sf_dir)))
    return decoded.select(
        "media_id",
        "modality",
        "n_channels",
        "sample_rate",
        "bits_per_sample",
        "n_samples",
        "amp_sum",
        "amp_max",
        F.when(
            F.col("n_samples") > 0,
            F.round(F.col("amp_sum") / F.col("n_samples"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("amp_mean"),
    )


_DECODE_WAV_SQL = """
WITH hx AS (
    -- BYTE-accurate, not char-accurate: the Spark path decodes UTF-8
    -- bytes, so the oracle iterates the hex encoding two nibbles at a
    -- time (a non-ASCII char is multiple samples, matching the decoder)
    SELECT doc_id, hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
), amps AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           n_bytes AS n_samples,
           CAST(list_aggregate(list_transform(range(1, n_bytes + 1),
                i -> ('0x' || substr(h, 2*i - 1, 2))::BIGINT), 'sum')
               AS BIGINT) AS amp_sum,
           CAST(list_aggregate(list_transform(range(1, n_bytes + 1),
                i -> ('0x' || substr(h, 2*i - 1, 2))::BIGINT), 'max')
               AS BIGINT) AS amp_max
    FROM hx
)
SELECT doc_id AS media_id, modality,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(8 AS BIGINT) AS bits_per_sample,
       n_samples,
       CASE WHEN n_samples > 0 THEN amp_sum ELSE 0 END AS amp_sum,
       CASE WHEN n_samples > 0 THEN amp_max ELSE 0 END AS amp_max,
       CASE WHEN n_samples > 0 THEN ROUND(amp_sum / n_samples, 6)
            ELSE 0.0 END AS amp_mean
FROM amps
"""


_PPM_W, _PPM_H = 16, 12
_PPM_OUT_W, _PPM_OUT_H = 4, 3


def multimodal_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal RESIZE verb, real and fully oracle-checked: wrap each
    doc's UTF-8 bytes as a 16×12 P6 PPM (operators/multimodal.py::
    ppm_wrap, zero-padded), nearest-neighbor resize to 4×3
    (resize_ppm_nearest — source pixel (floor(y·h/H), floor(x·w/W)), byte
    exact), then decode the RESIZED image (decode_ppm) into per-channel
    integer sums + global max.  The oracle replays the exact pixel
    selection as precomputed byte offsets over hex(encode(text)) — a
    construct→resize→decode roundtrip that would catch any off-by-one in
    header length, pixel indexing, or channel order."""
    from ..operators.multimodal import decode_ppm, ppm_wrap, resize_ppm_nearest

    wrapped = ppm_wrap(_media(spark, sf_dir), width=_PPM_W, height=_PPM_H)
    resized = resize_ppm_nearest(wrapped, _PPM_OUT_W, _PPM_OUT_H)
    return decode_ppm(resized)


def _ppm_resize_sql() -> str:
    header_len = len(f"P6\n{_PPM_W} {_PPM_H}\n255\n")  # not part of source bytes
    ys = [(y * _PPM_H) // _PPM_OUT_H for y in range(_PPM_OUT_H)]
    xs = [(x * _PPM_W) // _PPM_OUT_W for x in range(_PPM_OUT_W)]
    offs = {
        c: [((y * _PPM_W + x) * 3 + c) for y in ys for x in xs] for c in range(3)
    }
    del header_len  # offsets are into the pre-wrap source bytes, 0-based

    def byte_at(off: int) -> str:
        # zero-padded body: beyond the source text the wrap supplies 0x00
        return (
            f"CASE WHEN {off} < n_bytes"
            f" THEN ('0x' || substr(h, {2 * off + 1}, 2))::BIGINT ELSE 0 END"
        )

    sums = {
        name: " + ".join(byte_at(o) for o in offs[c])
        for name, c in (("r_sum", 0), ("g_sum", 1), ("b_sum", 2))
    }
    all_bytes = ", ".join(byte_at(o) for cs in offs.values() for o in cs)
    return f"""
WITH hx AS (
    SELECT doc_id, hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
)
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CAST({_PPM_OUT_W} AS BIGINT) AS width,
       CAST({_PPM_OUT_H} AS BIGINT) AS height,
       CAST({sums['r_sum']} AS BIGINT) AS r_sum,
       CAST({sums['g_sum']} AS BIGINT) AS g_sum,
       CAST({sums['b_sum']} AS BIGINT) AS b_sum,
       CAST(greatest({all_bytes}) AS BIGINT) AS rgb_max
FROM hx
"""


def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash image near-dup fingerprints: wrap 16×12 P6 →
    nearest resize to 8×8 → aHash (operators/multimodal.py::ahash_ppm —
    gray=(r+g+b)//3, threshold at integer mean, 64 bits as two BIGINT
    halves + popcount).  The SimHash playbook applied to pixels: equal or
    low-hamming hashes bucket near-identical images, so image dedup is a
    groupBy/join on the hash, never pairwise pixel comparison.  The whole
    integer chain replays in the oracle via precomputed source-byte
    offsets."""
    from ..operators.multimodal import ahash_ppm, ppm_wrap, resize_ppm_nearest

    wrapped = ppm_wrap(_media(spark, sf_dir), width=_PPM_W, height=_PPM_H)
    return ahash_ppm(resize_ppm_nearest(wrapped, 8, 8))


def _ppm_ahash_sql() -> str:
    ys = [(y * _PPM_H) // 8 for y in range(8)]
    xs = [(x * _PPM_W) // 8 for x in range(8)]

    def byte_at(off: int) -> str:
        return (
            f"CASE WHEN {off} < n_bytes"
            f" THEN ('0x' || substr(h, {2 * off + 1}, 2))::BIGINT ELSE 0 END"
        )

    grays = []
    for y in ys:  # row-major over the resized 8x8, matching ahash_ppm
        for x in xs:
            base = (y * _PPM_W + x) * 3
            grays.append(
                f"(({byte_at(base)}) + ({byte_at(base + 1)})"
                f" + ({byte_at(base + 2)})) // 3"
            )
    gs = ",\n        ".join(grays)
    return f"""
WITH hx AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
), g AS (
    SELECT doc_id, modality,
        [{gs}] AS gs
    FROM hx
), m AS (
    SELECT doc_id, modality, gs,
           CAST(list_aggregate(gs, 'sum') AS BIGINT) // 64 AS mean
    FROM g
)
SELECT doc_id AS media_id, modality,
       CAST(list_aggregate(list_transform(range(1, 33),
            i -> CASE WHEN gs[i] > mean THEN 1 << (i - 1) ELSE 0 END),
            'sum') AS BIGINT) AS ahash_hi,
       CAST(list_aggregate(list_transform(range(33, 65),
            i -> CASE WHEN gs[i] > mean THEN 1 << (i - 33) ELSE 0 END),
            'sum') AS BIGINT) AS ahash_lo,
       CAST(list_aggregate(list_transform(range(1, 65),
            i -> CASE WHEN gs[i] > mean THEN 1 ELSE 0 END),
            'sum') AS BIGINT) AS n_set
FROM m
"""


_AUDIO_FP_WINDOWS = 32


def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup fingerprints: wav_wrap each doc's bytes as canonical
    mono 8-bit PCM, then the 32-window energy-delta fingerprint
    (operators/multimodal.py::wav_energy_fingerprint) — 31 loudness-delta
    bits in one BIGINT, density-exact via cross-multiplication.  Completes
    the per-modality near-dup set (text MinHash/SimHash, image aHash,
    audio energy profile); the oracle replays windowed integer energies
    over hex(encode(text)) with the same floor-division window bounds."""
    from ..operators.multimodal import wav_energy_fingerprint, wav_wrap

    return wav_energy_fingerprint(
        wav_wrap(_media(spark, sf_dir)), n_windows=_AUDIO_FP_WINDOWS
    )


def _audio_fp_sql(n_windows: int = _AUDIO_FP_WINDOWS) -> str:
    # window w covers 0-based byte offsets [n*w//W, n*(w+1)//W); DuckDB
    # range() is 1-based into the hex string, so offset o -> substr(2o+1)
    def esum(w: int) -> str:
        return (
            f"CAST(list_aggregate(list_transform("
            f"range(n_bytes * {w} // {n_windows} + 1,"
            f" n_bytes * {w + 1} // {n_windows} + 1),"
            f" i -> ('0x' || substr(h, 2*i - 1, 2))::BIGINT), 'sum') AS BIGINT)"
        )

    def wlen(w: int) -> str:
        return f"(n_bytes * {w + 1} // {n_windows} - n_bytes * {w} // {n_windows})"

    es = ",\n           ".join(f"COALESCE({esum(w)}, 0) AS e{w}" for w in range(n_windows))
    bits = " + ".join(
        f"CASE WHEN e{w} * {wlen(w + 1)} > e{w + 1} * {wlen(w)}"
        f" THEN CAST({1 << w} AS BIGINT) ELSE 0 END"
        for w in range(n_windows - 1)
    )
    etot = " + ".join(f"e{w}" for w in range(n_windows))
    return f"""
WITH hx AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
), e AS (
    SELECT doc_id, modality, n_bytes,
           {es}
    FROM hx
)
SELECT doc_id AS media_id, modality,
       n_bytes AS n_samples,
       CAST({etot} AS BIGINT) AS energy_sum,
       CAST({bits} AS BIGINT) AS fp
FROM e
"""


_VID_FRAME_BYTES, _VID_EVERY_K, _VID_JACCARD = 64, 2, 0.5


def multimodal_video_frame_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs: sample every 2nd 64-byte frame of each video
    payload (the frame_sample slicing, JVM-side), key each frame by
    md5-of-hex (engine-portable: DuckDB 1.0 cannot md5 a BLOB, and the
    hex transcoding is byte-exact in both engines), per-video DISTINCT
    inside the row's own array, then the inverted-index jaccard join over
    shared frames — the ngram_jaccard shape applied to frame sets, which
    is how near-duplicate video detection actually works (shot/frame
    fingerprints + set overlap), completing per-modality near-dup
    coverage.  Never all-pairs: candidates come from the frame-key
    equality join."""
    fb = _VID_FRAME_BYTES
    media = _media(spark, sf_dir).filter(F.col("modality") == "video")
    n_frames = F.ceil(F.octet_length("payload") / F.lit(fb)).cast("int")
    idx = F.when(
        n_frames > 0, F.sequence(F.lit(0), n_frames - 1, F.lit(_VID_EVERY_K))
    ).otherwise(F.array().cast("array<int>"))
    keys = F.array_distinct(
        F.transform(
            idx,
            lambda i: F.md5(F.hex(F.substring(F.col("payload"), i * fb + 1, fb))),
        )
    )
    sh = media.select(F.col("media_id"), F.explode(keys).alias("fk"))
    sizes = sh.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_fr"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.fk") == F.col("b.fk")) & (F.col("a.media_id") < F.col("b.media_id")))
        .groupBy(F.col("a.media_id").alias("id_a"), F.col("b.media_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("media_id").alias("id_a"), F.col("n_fr").alias("n_a"))
    sb = sizes.select(F.col("media_id").alias("id_b"), F.col("n_fr").alias("n_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4
            ).alias("frame_jaccard"),
        )
        .filter(F.col("frame_jaccard") >= _VID_JACCARD)
    )


def _video_frame_sql() -> str:
    fb2 = _VID_FRAME_BYTES * 2  # hex chars per frame
    return f"""
WITH vids AS (
    SELECT doc_id, hex(encode(text)) AS hx,
           CAST(octet_length(encode(text)) AS BIGINT) AS n
    FROM documents WHERE doc_id % 3 = 2
), fr AS (
    SELECT DISTINCT doc_id,
           md5(substr(hx, CAST(i AS BIGINT) * {fb2} + 1, {fb2})) AS fk
    FROM vids,
         unnest(range(0, (n + {_VID_FRAME_BYTES - 1}) // {_VID_FRAME_BYTES},
                      {_VID_EVERY_K})) AS t(i)
), sizes AS (
    SELECT doc_id, COUNT(*) AS n_fr FROM fr GROUP BY 1
), shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM fr a JOIN fr b ON a.fk = b.fk AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(shared * 1.0 / (sa.n_fr + sb.n_fr - shared), 4) AS frame_jaccard
FROM shared
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE ROUND(shared * 1.0 / (sa.n_fr + sb.n_fr - shared), 4) >= {_VID_JACCARD}
"""


def corpus_multimodal_dup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The integration row: per document, is it a duplicate in ANY
    modality?  Composes three existing fingerprint families — text
    MinHash-LSH pairs, image aHash equality over the wrap→resize chain,
    audio energy-fingerprint equality over the wav chain — into one flag
    table ``(doc_id, dup_text_of, dup_img_of, dup_audio_of, any_dup)``,
    each dup_*_of the smallest matching earlier doc.  This is the shape a
    curation pipeline actually consumes: one keyed row per example, one
    boolean gate.  Each modality's candidates come from its own
    equality/band join (never all-pairs); the three probes share the
    corpus scan via Catalyst CTE dedup and join back on doc_id."""
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.multimodal import (
        ahash_ppm,
        ppm_wrap,
        resize_ppm_nearest,
        wav_energy_fingerprint,
        wav_wrap,
    )

    docs = _docs(spark, sf_dir)
    media = _media(spark, sf_dir)

    txt = (
        minhash_lsh_pairs(docs, num_perm=16, bands=4)
        .groupBy(F.col("id_b").alias("doc_id"))
        .agg(F.min("id_a").alias("dup_text_of"))
    )

    def _min_equal(keyed: DataFrame, key_cols: list[str], out: str) -> DataFrame:
        # min-per-key as a window, not agg+self-join: the agg+join form
        # executed the upstream decode/fingerprint chain (3 mapInPandas
        # passes) once per side (guide §2.4/§4) — the window is one pass
        # and one exchange, and `m < media_id` keeps the same row set
        w = Window.partitionBy(*key_cols)
        return (
            keyed.withColumn("m", F.min("media_id").over(w))
            .select(
                F.col("media_id").alias("doc_id"),
                F.when(F.col("m") < F.col("media_id"), F.col("m")).alias(out),
            )
            .filter(F.col(out).isNotNull())
        )

    img = _min_equal(
        ahash_ppm(
            resize_ppm_nearest(ppm_wrap(media, width=_PPM_W, height=_PPM_H), 8, 8)
        ).select("media_id", "ahash_hi", "ahash_lo"),
        ["ahash_hi", "ahash_lo"],
        "dup_img_of",
    )
    au = _min_equal(
        wav_energy_fingerprint(
            wav_wrap(media), n_windows=_AUDIO_FP_WINDOWS
        ).select("media_id", "fp", "n_samples"),
        ["fp", "n_samples"],
        "dup_audio_of",
    )
    return (
        docs.select("doc_id")
        .join(txt, "doc_id", "left")
        .join(img, "doc_id", "left")
        .join(au, "doc_id", "left")
        .select(
            "doc_id",
            "dup_text_of",
            "dup_img_of",
            "dup_audio_of",
            (
                F.col("dup_text_of").isNotNull()
                | F.col("dup_img_of").isNotNull()
                | F.col("dup_audio_of").isNotNull()
            ).alias("any_dup"),
        )
    )


def _multimodal_flags_sql() -> str:
    # each modality's full oracle SELECT embeds as a FROM-subquery (DuckDB
    # accepts WITH inside FROM — the LPA precedent), so this oracle is BY
    # CONSTRUCTION the composition of the three already-green oracles
    return f"""
WITH txt AS (
    SELECT id_b AS doc_id, MIN(id_a) AS dup_text_of
    FROM ({_minhash_sql()}) GROUP BY 1
), ah AS (
    SELECT media_id, ahash_hi, ahash_lo FROM ({_ppm_ahash_sql()})
), img AS (
    SELECT a.media_id AS doc_id, MIN(b.media_id) AS dup_img_of
    FROM ah a JOIN ah b
      ON a.ahash_hi = b.ahash_hi AND a.ahash_lo = b.ahash_lo
     AND b.media_id < a.media_id
    GROUP BY 1
), af AS (
    SELECT media_id, fp, n_samples FROM ({_audio_fp_sql()})
), au AS (
    SELECT a.media_id AS doc_id, MIN(b.media_id) AS dup_audio_of
    FROM af a JOIN af b
      ON a.fp = b.fp AND a.n_samples = b.n_samples
     AND b.media_id < a.media_id
    GROUP BY 1
)
SELECT d.doc_id, txt.dup_text_of, img.dup_img_of, au.dup_audio_of,
       (txt.dup_text_of IS NOT NULL OR img.dup_img_of IS NOT NULL
        OR au.dup_audio_of IS NOT NULL) AS any_dup
FROM documents d
LEFT JOIN txt ON d.doc_id = txt.doc_id
LEFT JOIN img ON d.doc_id = img.doc_id
LEFT JOIN au ON d.doc_id = au.doc_id
"""


def embedding_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-split QA: quantify how far apart the train/val/test
    EMBEDDING CENTROIDS sit — a hash split should be feature-independent,
    so large centroid drift flags a biased split (or a broken hash) before
    anyone trains on it.  Per split, the per-dimension mean is computed in
    int64 fixed-point (embeddings quantized ROUND(x·1e6) BEFORE summing —
    float sums are fold-order-sensitive across engines, integer sums are
    not; the mean is the exact div), then each split pair gets the L1
    distance between mean vectors.  Output: (split_a, split_b, l1_fp).

    Scale shape: one bounded posexplode (64 dims) + a (split, dim) groupBy
    with map-side partial sums → a 3×64-row table; everything after is
    driver-trivial but stays declarative."""
    from ..operators.sampling import train_val_test_split

    emb = train_val_test_split(_emb(spark, sf_dir), id_col="vec_id")
    dims = emb.select(
        "split", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "split",
        "dim",
        F.round(F.col("x").cast("double") * 1_000_000).cast("long").alias("q"),
    )
    means = (
        dims.groupBy("split", "dim")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        .select("split", "dim", F.expr("s div n").cast("long").alias("m"))
    )
    a, b = means.alias("a"), means.alias("b")
    return (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.split") < F.col("b.split")),
        )
        .groupBy(
            F.col("a.split").alias("split_a"), F.col("b.split").alias("split_b")
        )
        .agg(F.sum(F.abs(F.col("a.m") - F.col("b.m"))).cast("long").alias("l1_fp"))
    )


def _split_drift_sql() -> str:
    from ..operators.sampling import split_oracle_sql

    split = split_oracle_sql(id_col="vec_id")
    return f"""
WITH sp AS (
    SELECT vec_id, embedding, {split} AS split FROM embeddings
), dims AS (
    -- DuckDB 1.0 lacks WITH ORDINALITY: index the list with a lateral
    -- range instead (the bpe/_DOT convention)
    SELECT split, CAST(u.i - 1 AS INT) AS dim,
           CAST(round(embedding[CAST(u.i AS INT)]::DOUBLE * 1000000) AS BIGINT) AS q
    FROM sp, UNNEST(range(1, {EMB_DIM + 1})) AS u(i)
), means AS (
    SELECT split, dim, (SUM(q) // COUNT(*))::BIGINT AS m
    FROM dims GROUP BY 1, 2
)
SELECT a.split AS split_a, b.split AS split_b,
       SUM(abs(a.m - b.m))::BIGINT AS l1_fp
FROM means a JOIN means b ON a.dim = b.dim AND a.split < b.split
GROUP BY 1, 2
"""


QUERIES = {
    "text_token_stats": text_token_stats,
    "text_quality_scores": text_quality_scores,
    "text_language_id": text_language_id,
    "text_fingerprint": text_fingerprint,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_incremental_shard": dedup_incremental_shard,
    "corpus_domain_percentile_filter": corpus_domain_percentile_filter,
    "dedup_simhash": dedup_simhash,
    "embedding_cosine_topk": embedding_cosine_topk,
    "embedding_near_dup": embedding_near_dup,
    "embedding_near_dup_lsh": embedding_near_dup_lsh,
    "embedding_lsh_ann": embedding_lsh_ann,
    "multimodal_media_stats": multimodal_media_stats,
    "multimodal_decode_features": multimodal_decode_features,
    "multimodal_image_resize_stats": multimodal_image_resize_stats,
    "multimodal_image_ahash": multimodal_image_ahash,
    "multimodal_audio_fingerprint": multimodal_audio_fingerprint,
    "multimodal_video_frame_jaccard": multimodal_video_frame_jaccard,
    "corpus_multimodal_dup_flags": corpus_multimodal_dup_flags,
    "embedding_split_drift": embedding_split_drift,
}

ORACLES = {
    "text_token_stats": _TOKEN_SQL,
    "text_quality_scores": _QUALITY_SQL,
    "text_language_id": _langid_sql(),
    "text_fingerprint": _FINGERPRINT_SQL,
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": _JACCARD_SQL,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_incremental_shard": _incremental_shard_sql(),
    "corpus_domain_percentile_filter": _DOMAIN_PCT_SQL,
    "dedup_simhash": _simhash_sql(),
    "embedding_cosine_topk": _topk_sql(),
    "embedding_near_dup": _near_dup_sql(),
    "embedding_near_dup_lsh": _near_dup_lsh_sql(),
    "embedding_lsh_ann": _lsh_ann_sql(),
    "multimodal_media_stats": _MEDIA_STATS_SQL,
    "multimodal_decode_features": _DECODE_WAV_SQL,
    "multimodal_image_resize_stats": _ppm_resize_sql(),
    "multimodal_image_ahash": _ppm_ahash_sql(),
    "multimodal_audio_fingerprint": _audio_fp_sql(),
    "multimodal_video_frame_jaccard": _video_frame_sql(),
    "corpus_multimodal_dup_flags": _multimodal_flags_sql(),
    "embedding_split_drift": _split_drift_sql(),
}


# ---------------------------------------------------------------------------
# Corpus statistics: top bigrams, per-doc TF-IDF terms, kNN label voting.
# ---------------------------------------------------------------------------

def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram frequency table: top-20 word bigrams.
    explode → groupBy — partial-aggregated, deterministic tie-break."""
    from ..operators.dedup import shingles

    docs = _docs(spark, sf_dir)
    grams = shingles(docs, n=2).select("shingle")  # distinct per doc
    counts = grams.groupBy("shingle").agg(F.count(F.lit(1)).alias("doc_freq"))
    return counts.orderBy(F.col("doc_freq").desc(), F.col("shingle").asc()).limit(20)


_BIGRAMS_SQL = r"""
WITH ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh AS (
    SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w), 1)),
                                     i -> w[i] || ' ' || w[i+1])) AS s
        FROM ws) WHERE s IS NOT NULL AND s <> ''
)
SELECT s AS shingle, COUNT(*) AS doc_freq
FROM sh GROUP BY 1
ORDER BY doc_freq DESC, shingle ASC
LIMIT 20
"""


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms.

    tf = term count in doc; idf = ln(N / df) with df = docs containing the
    term.  Ranking happens on the ROUNDED score with the term string as
    tie-break, so cross-engine float noise in ln() cannot reorder results.
    Two shuffles: (doc, term) count and df; the df side is broadcast.
    """
    from ..operators.text import words

    docs = _docs(spark, sf_dir)
    n_docs = docs.count()  # scalar dimension, computed once
    terms = docs.select(
        F.col("doc_id"), F.explode(words(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = terms.dropDuplicates(["doc_id", "term"]).groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4).alias("tfidf"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


def _tfidf_sql() -> str:
    return r"""
WITH terms AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, tf.term AS term,
           ROUND(tf * ln(n_docs * 1.0 / df), 4) AS tfidf
    FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
),
ranked AS (
    SELECT doc_id, term, tfidf,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, term ASC) AS rank
    FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
"""


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification by majority label of the 5 exact nearest
    neighbors (ties → smallest label).  Composes cosine_topk with a
    label join on neighbor id — the standard eval harness for embedding
    quality."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    topk = cosine_topk(emb, queries, k=5, dim=EMB_DIM)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label"))
    # labels is one row per corpus point — no broadcast hint (r5 gate);
    # topk is the tiny side (|queries| x k) and the planner broadcasts IT
    votes = topk.join(labels, "neighbor_id").groupBy(
        "query_id", "label"
    ).agg(F.count(F.lit(1)).alias("votes"))
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("label").asc())
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )


def _knn_sql() -> str:
    cos = _cos_sql("qv", "cv")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label FROM embeddings),
s AS (
    SELECT query_id, neighbor_id, label, ROUND({cos}, 4) AS sim
    FROM c CROSS JOIN q WHERE neighbor_id <> query_id
),
r AS (
    SELECT query_id, neighbor_id, label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM s
),
votes AS (
    SELECT query_id, label, COUNT(*) AS votes
    FROM r WHERE rank <= 5 GROUP BY 1, 2
),
best AS (
    SELECT query_id, label AS pred_label, votes,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY votes DESC, label ASC) AS rn
    FROM votes
)
SELECT query_id, pred_label, votes FROM best WHERE rn = 1
"""


QUERIES.update(
    {
        "text_top_bigrams": text_top_bigrams,
        "text_tfidf_top_terms": text_tfidf_top_terms,
        "knn_label_vote": knn_label_vote,
    }
)
ORACLES.update(
    {
        "text_top_bigrams": _BIGRAMS_SQL,
        "text_tfidf_top_terms": _tfidf_sql(),
        "knn_label_vote": _knn_sql(),
    }
)


def multimodal_chunk_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload chunking (operators/multimodal.py::chunk_payload): shard each
    document payload into 256-char chunks with md5 fingerprints."""
    from ..operators.multimodal import chunk_payload

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"), F.col("text").alias("text_payload")
    )
    return chunk_payload(docs, chunk_chars=256)


_CHUNK_SQL = """
WITH n AS (
    SELECT doc_id AS media_id, text,
           CAST(ceil(length(text) / 256.0) AS INT) AS n_chunks
    FROM documents
),
idx AS (
    SELECT media_id, text, unnest(range(0, n_chunks)) AS chunk_idx FROM n
)
SELECT media_id, chunk_idx,
       length(substring(text, chunk_idx * 256 + 1, 256)) AS chunk_chars,
       md5(substring(text, chunk_idx * 256 + 1, 256)) AS chunk_md5
FROM idx
"""

QUERIES["multimodal_chunk_fingerprints"] = multimodal_chunk_fingerprints
ORACLES["multimodal_chunk_fingerprints"] = _CHUNK_SQL


# dedup_clusters / corpus_curation_pipeline / corpus_curation_strict all
# consume the SAME connected-components output.  duplicate_clusters ends in
# an eager localCheckpoint (the label-propagation loop must materialize
# anyway), so the checkpointed result is memoized per input and threshold
# and the expensive Jaccard candidate generation runs once per input
# instead of once per query — the production shape: a pipeline computes
# its dedup stage once and every downstream consumer reads it.
_CLUSTERS_CACHE = Memo()


def _shared_clusters(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    from ..operators.graph import min_label_components

    docs = _docs(spark, sf_dir)
    # edges from the shared capped pair base (bit-identical to
    # duplicate_clusters' internal ngram_jaccard_pairs — same capped
    # algebra, same round-to-4 cut), so the inverted-index self-join runs
    # once per input instead of once per shared stage; the bench prices
    # the base on its own dedup_pair_base_build line and this stage as the
    # marginal CC propagation.
    return _CLUSTERS_CACHE.get(spark, [docs], threshold, lambda: min_label_components(
        _pair_base_jaccard(spark, sf_dir, threshold=threshold),
        docs.select("doc_id"),
        "doc_id",
        warn_name="duplicate_clusters",
    ))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over Jaccard>=0.5 near-dup edges
    (operators/dedup.py::duplicate_clusters); oracle = DuckDB recursive CTE
    transitive closure.  Shares one checkpointed propagation result with
    the curation queries (see _shared_clusters)."""
    return _shared_clusters(spark, sf_dir, threshold=0.5)


def _clusters_sql() -> str:
    from . import llm_data as _self  # reuse the jaccard pair SQL body

    pairs_sql = _JACCARD_SQL.strip().rstrip(";")
    return f"""
WITH RECURSIVE jp AS ({pairs_sql}),
edges AS (
    SELECT id_a AS s, id_b AS d FROM jp
    UNION ALL
    SELECT id_b, id_a FROM jp
),
reach(s, d) AS (
    SELECT s, d FROM edges
    UNION
    SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
),
m AS (SELECT s AS doc_id, MIN(d) AS mn FROM reach GROUP BY 1)
SELECT doc.doc_id, LEAST(COALESCE(m.mn, doc.doc_id), doc.doc_id) AS cluster_id
FROM documents doc LEFT JOIN m ON doc.doc_id = m.doc_id
"""


QUERIES["dedup_clusters"] = dedup_clusters
ORACLES["dedup_clusters"] = _clusters_sql()


def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation in one composed plan: quality
    filter (length + lexical diversity) ∘ near-dup canonicalization (keep
    only cluster representatives).  The shape every 100 TB pretraining
    pipeline runs; here each stage is the already-oracle-checked operator.
    The dedup stage is an iterative algorithm and therefore materializes
    (checkpointed label propagation, computed once per session and shared
    — see _shared_clusters); the quality stage and the joins around it
    compose into one Catalyst plan."""
    from ..operators.text import quality_scores

    docs = _docs(spark, sf_dir)
    clusters = _shared_clusters(spark, sf_dir, threshold=0.5)
    canonical = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    quality = quality_scores(docs)
    kept = (
        quality.join(canonical, "doc_id")
        .filter((F.col("n_tokens") >= 30) & (F.col("distinct_ratio") >= 0.35))
        .select("doc_id", "n_tokens", "distinct_ratio")
    )
    return kept


def _curation_sql() -> str:
    clusters = _clusters_sql().strip()
    return rf"""
WITH clusters AS ({clusters}),
w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
quality AS (
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(COUNT(DISTINCT w) * 1.0 / COUNT(*), 4) AS distinct_ratio
    FROM w GROUP BY 1
)
SELECT q.doc_id, q.n_tokens, q.distinct_ratio
FROM quality q
JOIN clusters c ON q.doc_id = c.doc_id AND c.doc_id = c.cluster_id
WHERE q.n_tokens >= 30 AND q.distinct_ratio >= 0.35
"""


QUERIES["corpus_curation_pipeline"] = corpus_curation_pipeline
ORACLES["corpus_curation_pipeline"] = _curation_sql()


# ---------------------------------------------------------------------------
# Dataset assembly: deterministic splits, repetition filtering, sequence
# chunking, corpus mix governance.
# ---------------------------------------------------------------------------

def corpus_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucketed train/val/test assignment
    (operators/sampling.py) — stable across retries/engines, shuffle-free."""
    from ..operators.sampling import train_val_test_split

    return train_val_test_split(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "split"
    )


def _split_sql() -> str:
    from ..operators.sampling import split_oracle_sql

    return f"SELECT doc_id, lang, {split_oracle_sql()} AS split FROM documents"


def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document bigram repetition signals (operators/text.py) — the
    boilerplate/spam axis of corpus quality filtering."""
    from ..operators.text import repetition_scores

    return repetition_scores(_docs(spark, sf_dir))


_REPETITION_SQL = r"""
WITH w AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
),
b AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i + 1])) AS bg
    FROM w
),
pp AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       COUNT(*) AS n_distinct_bigrams,
       ROUND(COUNT(*) * 1.0 / SUM(c), 4) AS distinct_bigram_ratio,
       ROUND(MAX(c) * 1.0 / SUM(c), 4) AS top_bigram_share
FROM pp GROUP BY 1
"""


def doc_chunk_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 32 / stride 24) — corpus →
    training-sequence rows, map-side only (operators/text.py)."""
    from ..operators.text import chunk_token_windows

    return chunk_token_windows(_docs(spark, sf_dir), chunk_size=32, stride=24)


_CHUNK_WINDOWS_SQL = r"""
WITH w AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
),
n AS (
    SELECT doc_id, ws,
           CAST(1 + ceil(greatest(len(ws) - 32, 0) / 24.0) AS BIGINT) AS n_chunks
    FROM w
),
idx AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS chunk_idx FROM n)
SELECT doc_id, chunk_idx,
       array_to_string(ws[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
           AS chunk_text,
       CAST(len(ws[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS BIGINT)
           AS n_chunk_tokens
FROM idx
"""


def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) governance report: volume, token share of the
    whole corpus, and split balance (proof the hash split stratifies every
    slice at the configured rates without stratified sampling)."""
    from pyspark.sql import Window

    from ..operators.sampling import train_val_test_split
    from ..operators.text import words

    docs = train_val_test_split(_docs(spark, sf_dir)).withColumn(
        "n_tokens", F.size(words(F.col("text"))).cast("long")
    )
    agg = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum((F.col("split") == "train").cast("long")).alias("n_train"),
        F.sum((F.col("split") == "val").cast("long")).alias("n_val"),
        F.sum((F.col("split") == "test").cast("long")).alias("n_test"),
    )
    # single-partition window over ~|sources x langs| grouped rows — fine
    return agg.withColumn(
        "token_share",
        F.round(
            F.col("total_tokens") / F.sum("total_tokens").over(Window.partitionBy()),
            6,
        ),
    )


def _mix_sql() -> str:
    from ..operators.sampling import split_oracle_sql

    return rf"""
WITH d AS (
    SELECT source, lang,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           {split_oracle_sql()} AS split
    FROM documents
),
agg AS (
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
           CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
    FROM d GROUP BY 1, 2
)
SELECT source, lang, n_docs, total_tokens, n_train, n_val, n_test,
       ROUND(total_tokens * 1.0 / SUM(total_tokens) OVER (), 6) AS token_share
FROM agg
"""


QUERIES.update(
    {
        "corpus_train_split": corpus_train_split,
        "text_repetition_scores": text_repetition_scores,
        "doc_chunk_token_windows": doc_chunk_token_windows,
        "corpus_mix_report": corpus_mix_report,
    }
)
ORACLES.update(
    {
        "corpus_train_split": _split_sql(),
        "text_repetition_scores": _REPETITION_SQL,
        "doc_chunk_token_windows": _CHUNK_WINDOWS_SQL,
        "corpus_mix_report": _mix_sql(),
    }
)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-4th 128-byte frame of each media payload
    (operators/multimodal.py::frame_sample) — the sampling step that cuts
    volume k-fold before any decode."""
    from ..operators.multimodal import frame_sample

    return frame_sample(_media(spark, sf_dir), frame_bytes=128, every_k=4)


# payloads here are UTF-8 encoded ASCII text, so byte offsets == char
# offsets and DuckDB's text substring reproduces the binary slicing
_FRAME_SAMPLE_SQL = """
WITH n AS (
    SELECT doc_id AS media_id, text,
           CAST(ceil(length(text) / 128.0) AS INT) AS n_frames
    FROM documents
),
idx AS (
    SELECT media_id, text,
           unnest(range(0, n_frames, 4)) AS frame_idx FROM n
)
SELECT media_id, frame_idx,
       CAST(length(substring(text, CAST(frame_idx * 128 + 1 AS INT), 128)) AS BIGINT)
           AS frame_bytes,
       md5(substring(text, CAST(frame_idx * 128 + 1 AS INT), 128)) AS frame_md5
FROM idx
"""

QUERIES["multimodal_frame_sample"] = multimodal_frame_sample
ORACLES["multimodal_frame_sample"] = _FRAME_SAMPLE_SQL


_PACK_SHARDS = 64


def doc_pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing after chunking: 32/24 token windows greedily packed
    into 256-token training packs WITHIN each of 64 deterministic hash
    shards (operators/text.py::pack_by_token_budget).  Sharded packing is
    the 100 TB shape: each shard's running sum is an independent window
    partition, so packing parallelizes with the cluster instead of
    funnelling every chunk row through one reducer; a pack is identified
    by (pack_shard, pack_id)."""
    from ..operators.sampling import hash_bucket
    from ..operators.text import chunk_token_windows, pack_by_token_budget

    chunks = chunk_token_windows(
        _docs(spark, sf_dir), chunk_size=32, stride=24
    ).withColumn("pack_shard", hash_bucket(F.col("doc_id"), "pack", _PACK_SHARDS))
    return pack_by_token_budget(
        chunks, budget=256, partition_cols=("pack_shard",)
    )


def _pack_sql() -> str:
    chunk = _CHUNK_WINDOWS_SQL.strip().rstrip(";")
    shard = (
        f"(('0x' || substr(md5('pack:' || doc_id), 1, 15))::BIGINT"
        f" % {_PACK_SHARDS})"
    )
    return f"""
WITH chunks AS ({chunk}),
s AS (
    SELECT doc_id, chunk_idx, n_chunk_tokens,
           {shard} AS pack_shard
    FROM chunks
),
c AS (
    SELECT pack_shard, doc_id, chunk_idx, n_chunk_tokens,
           SUM(n_chunk_tokens) OVER (PARTITION BY pack_shard
               ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chunk_tokens AS excl
    FROM s
)
SELECT pack_shard, doc_id, chunk_idx, n_chunk_tokens,
       CAST(floor(excl / 256.0) AS BIGINT) AS pack_id
FROM c
"""


QUERIES["doc_pack_assignments"] = doc_pack_assignments
ORACLES["doc_pack_assignments"] = _pack_sql()


def corpus_curation_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation composition: lexical quality (length + diversity)
    ∘ repetition filter (bigram boilerplate, top share <= 0.06 ~ p90 here)
    ∘ near-dup canonicalization.  The lexical stages compose into one
    Catalyst plan; the dedup stage reads the session's shared checkpointed
    propagation result (see _shared_clusters)."""
    from ..operators.text import quality_scores, repetition_scores

    docs = _docs(spark, sf_dir)
    clusters = _shared_clusters(spark, sf_dir, threshold=0.5)
    canonical = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    quality = quality_scores(docs)
    rep = repetition_scores(docs).select("doc_id", "top_bigram_share")
    return (
        quality.join(canonical, "doc_id")
        .join(rep, "doc_id")
        .filter(
            (F.col("n_tokens") >= 30)
            & (F.col("distinct_ratio") >= 0.35)
            & (F.col("top_bigram_share") <= 0.06)
        )
        .select("doc_id", "n_tokens", "distinct_ratio", "top_bigram_share")
    )


def _curation_strict_sql() -> str:
    clusters = _clusters_sql().strip()
    return rf"""
WITH clusters AS ({clusters}),
w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
quality AS (
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(COUNT(DISTINCT w) * 1.0 / COUNT(*), 4) AS distinct_ratio
    FROM w GROUP BY 1
),
ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
b AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i + 1])) AS bg
    FROM ws
),
pp AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY 1, 2),
rep AS (SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), 4) AS top_bigram_share
        FROM pp GROUP BY 1)
SELECT q.doc_id, q.n_tokens, q.distinct_ratio, r.top_bigram_share
FROM quality q
JOIN clusters c ON q.doc_id = c.doc_id AND c.doc_id = c.cluster_id
JOIN rep r ON q.doc_id = r.doc_id
WHERE q.n_tokens >= 30 AND q.distinct_ratio >= 0.35
  AND r.top_bigram_share <= 0.06
"""


QUERIES["corpus_curation_strict"] = corpus_curation_strict
ORACLES["corpus_curation_strict"] = _curation_strict_sql()


# ---------------------------------------------------------------------------
# Decontamination: benchmark n-gram containment (operators/decontam.py)
# ---------------------------------------------------------------------------

def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-vs-benchmark n-gram containment.  The "benchmark suite" is
    a deterministic 5% hash slice of the corpus (stand-in for a real eval
    set); every remaining doc is scored by the fraction of its distinct
    3-gram shingles that appear anywhere in the benchmark.  The benchmark
    side collapses to a set of 60-bit shingle hashes — the corpus-side
    scan never shuffles text, only (doc_id, count) partials.  Because THIS
    stand-in benchmark is a corpus slice (it grows with the corpus), the
    join is left un-hinted (broadcast_bench=False) and the planner picks
    broadcast while the slice is small; a real, externally-fixed eval
    suite is the case the operator's broadcast_bench=True default is
    for."""
    from ..operators.decontam import ngram_containment
    from ..operators.sampling import hash_bucket

    docs = _docs(spark, sf_dir)
    b = hash_bucket(F.col("doc_id"), "bench")
    bench = docs.filter(b < 500)
    train = docs.filter(b >= 500)
    return ngram_containment(
        train, bench, n=3, flag_threshold=0.2, broadcast_bench=False
    )


_DECONTAM_SQL = r"""
WITH bench_ids AS (
    SELECT doc_id FROM documents
    WHERE (('0x' || substr(md5('bench:' || doc_id), 1, 15))::BIGINT % 10000) < 500
), ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh AS (
    -- DISTINCT on the 60-bit hash, matching the Spark side's map-side
    -- array_distinct over hashed shingles (shingle_hashes)
    SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM ws) WHERE s IS NOT NULL AND s <> ''
),
bench_h AS (
    SELECT DISTINCT h AS bh
    FROM sh WHERE doc_id IN (SELECT doc_id FROM bench_ids)
),
train_sh AS (
    SELECT doc_id, h
    FROM sh WHERE doc_id NOT IN (SELECT doc_id FROM bench_ids)
),
totals AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train_sh GROUP BY 1),
matched AS (
    SELECT t.doc_id, COUNT(*) AS n_matched
    FROM train_sh t JOIN bench_h ON t.h = bh GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(n_matched, 0) AS BIGINT) AS n_matched,
       CASE WHEN COALESCE(n_shingles, 0) > 0
            THEN ROUND(COALESCE(n_matched, 0) * 1.0 / n_shingles, 4)
            ELSE 0.0 END AS containment,
       (CASE WHEN COALESCE(n_shingles, 0) > 0
             THEN ROUND(COALESCE(n_matched, 0) * 1.0 / n_shingles, 4)
             ELSE 0.0 END) >= 0.2 AS contaminated
FROM (SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM bench_ids)) d
LEFT JOIN totals USING (doc_id)
LEFT JOIN matched USING (doc_id)
"""

QUERIES["corpus_decontaminate"] = corpus_decontaminate
ORACLES["corpus_decontaminate"] = _DECONTAM_SQL


# ---------------------------------------------------------------------------
# PII redaction (operators/redact.py)
# ---------------------------------------------------------------------------

def corpus_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus.  The synthetic documents contain no real
    PII, so the query first injects deterministic doc_id-derived PII spans
    (email / phone / IP / SSN shapes on residue-class subsets) and then
    redacts — the differential test exercises every pattern and the full
    redacted text, not a vacuous all-zeros pass.  The operator itself is a
    pure expression chain (no UDF, no shuffle): scan-speed at 100 TB."""
    from ..operators.redact import redact_pii

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    s = did.cast("string")
    last4 = F.lpad((did % 10000).cast("string"), 4, "0")
    aug = F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.concat(F.lit(" contact user"), s, F.lit("@example.com")))
        .otherwise(F.lit("")),
        F.when(did % 5 == 0, F.concat(F.lit(" call (555) 010-"), last4))
        .otherwise(F.lit("")),
        F.when(did % 7 == 0, F.concat(F.lit(" host 10.0."), (did % 256).cast("string"), F.lit(".1")))
        .otherwise(F.lit("")),
        F.when(did % 11 == 0, F.concat(F.lit(" id 123-45-"), last4))
        .otherwise(F.lit("")),
    )
    return redact_pii(docs.withColumn("text", aug))


def _pii_sql() -> str:
    from ..operators.redact import redact_oracle_exprs

    exprs = redact_oracle_exprs("text")
    cols = ",\n       ".join(f"{e} AS {name}" for name, e in exprs.items())
    return f"""
WITH aug AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' call (555) 010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.1'
                   ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN ' id 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                   ELSE '' END AS text
    FROM documents
)
SELECT doc_id,
       {cols}
FROM aug
"""


QUERIES["corpus_pii_redaction"] = corpus_pii_redaction
ORACLES["corpus_pii_redaction"] = _pii_sql()


# ---------------------------------------------------------------------------
# Domain-temperature mixing (operators/sampling.py)
# ---------------------------------------------------------------------------

def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled domain mix (alpha=0.5) keyed by ``lang`` — the
    skewed domain in this corpus (en dominates ~2-3x), so the flattening
    is visible: per-domain plan (n_docs, weight, target_docs, threshold)
    joined with the realized sample counts.  Integer-exact end to end —
    see operators/sampling.py::temperature_thresholds — so the oracle
    reproduces every threshold AND every sampled document bit-for-bit.
    Scale shape: two |domains|-row aggregates, one broadcast join, one
    narrow corpus pass."""
    from ..operators.sampling import hash_bucket, temperature_thresholds

    docs = _docs(spark, sf_dir)
    # thresholds are |domains| rows: collect once (sanctioned tiny-scalar
    # pattern, cf. the IVF codebook) and inline the cutoffs as a literal
    # map — otherwise the un-shareable thresholds subplan would re-scan
    # the corpus for each of its two consumers (report + sample).
    th_rows = sorted(
        temperature_thresholds(docs, "lang", target_frac=0.5).collect(),
        key=lambda r: r["lang"],
    )
    cutoff = F.create_map(
        *[
            F.lit(v)
            for r in th_rows
            for v in (r["lang"], int(r["threshold"]))
        ]
    )
    sampled = (
        docs.filter(hash_bucket(F.col("doc_id"), "temp") < cutoff[F.col("lang")])
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
    )
    report = spark.createDataFrame(
        [
            (r["lang"], r["n_docs"], r["weight"], r["target_docs"], r["threshold"])
            for r in th_rows
        ],
        "lang STRING, n_docs BIGINT, weight BIGINT, target_docs BIGINT, threshold BIGINT",
    )
    return (
        report.join(sampled, on="lang", how="left")
        .withColumn("n_sampled", F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long"))
        .orderBy("lang")
    )


def _temperature_sql() -> str:
    from ..operators.sampling import temperature_oracle_cte

    return f"""
WITH {temperature_oracle_cte(source_col="lang")},
s AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled
      FROM sampled GROUP BY 1)
SELECT th.lang, th.n_docs, th.weight, th.target_docs, th.threshold,
       CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled
FROM th LEFT JOIN s USING (lang)
ORDER BY th.lang
"""


QUERIES["corpus_temperature_mix"] = corpus_temperature_mix
ORACLES["corpus_temperature_mix"] = _temperature_sql()


# ---------------------------------------------------------------------------
# IVF ANN (operators/ivf.py) — coarse-quantizer scale path, integer-exact
# ---------------------------------------------------------------------------

# embedding_ivf_ann and embedding_semdedup share one codebook: training is
# deterministic in (input, k, iters, seed), so one codebook per input —
# the write-once model the IVF layout implies.
_IVF_CENTROIDS_CACHE = Memo()


def _shared_ivf_centroids(spark: SparkSession, sf_dir: str) -> list:
    from ..operators.ivf import ivf_train

    emb = _emb(spark, sf_dir)
    return _IVF_CENTROIDS_CACHE.get(
        spark, [emb], (), lambda: ivf_train(emb, k=8, iters=2, dim=EMB_DIM)
    )


def embedding_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN: deterministic integer k-means codebook (k=8,
    2 Lloyd iterations, md5-ordered seeding), nprobe=2 probing, exact
    integer-L2 rerank.  Unlike the LSH ANN (rows-only), the ENTIRE
    algorithm is replayed by the DuckDB oracle — every centroid, every
    assignment, every distance, bit-for-bit (operators/ivf.py docstring
    explains the integer-exactness argument).  Recall vs exact top-k is
    pytest-measured in tests/test_llm_data.py."""
    from ..operators.ivf import ivf_ann_topk

    emb = _emb(spark, sf_dir)
    centroids = _shared_ivf_centroids(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_ann_topk(emb, queries, centroids, k=5, nprobe=2).select(
        "query_id", "neighbor_id", "dist", "rank"
    )


def _ivf_sql() -> str:
    from ..operators.ivf import ivf_oracle_sql

    return ivf_oracle_sql(k=8, iters=2, dim=EMB_DIM, topk=5, nprobe=2)


QUERIES["embedding_ivf_ann"] = embedding_ivf_ann
ORACLES["embedding_ivf_ann"] = _ivf_sql()


_SEMDEDUP_TAU = 1_350_000_000_000  # ~p1 of within-cluster sq-L2 at sf0.01


def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup: semantic near-duplicate removal inside IVF clusters —
    every vector with a lower-id neighbor at integer sq-L2 <= tau in its
    inverted list is dropped (min-id canonical, order-free).  Work is
    O(n·B) for bounded cluster size B; the codebook is the same
    deterministic integer k-means as embedding_ivf_ann, so the ENTIRE
    pipeline — training included — is replayed by the DuckDB oracle."""
    from ..operators.ivf import semantic_dedup

    emb = _emb(spark, sf_dir)
    centroids = _shared_ivf_centroids(spark, sf_dir)
    return semantic_dedup(emb, centroids, tau=_SEMDEDUP_TAU)


def _semdedup_sql() -> str:
    from ..operators.ivf import semdedup_oracle_sql

    return semdedup_oracle_sql(tau=_SEMDEDUP_TAU, k=8, iters=2, dim=EMB_DIM)


QUERIES["embedding_semdedup"] = embedding_semdedup
ORACLES["embedding_semdedup"] = _semdedup_sql()


def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length governance histogram: log2 bins of whitespace token
    counts with per-bin doc count and token mass.  floor(log2(n)) over
    integer n is engine-stable (n is never within float noise of a power
    of two unless it IS one, where log2 is exact in both engines).  Narrow
    projection + one k-bin aggregate — free at any scale."""
    from ..operators.text import words

    docs = _docs(spark, sf_dir).withColumn(
        "n_tokens", F.size(words(F.col("text"))).cast("long")
    )
    return (
        docs.withColumn(
            "len_bin",
            F.floor(F.log2(F.greatest(F.col("n_tokens"), F.lit(1)))).cast("long"),
        )
        .groupBy("len_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
    )


_LENGTH_HIST_SQL = r"""
WITH d AS (
    SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT CAST(floor(log2(greatest(n_tokens, 1))) AS BIGINT) AS len_bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(n_tokens) AS min_tokens,
       MAX(n_tokens) AS max_tokens
FROM d GROUP BY 1
"""

QUERIES["corpus_length_histogram"] = corpus_length_histogram
ORACLES["corpus_length_histogram"] = _LENGTH_HIST_SQL


def doc_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc block dedup (operators/text.py::dedup_blocks) over a
    corpus with planted repetition: every 4th doc is rebuilt as
    [first 16 words] + [first 8 words again] — an exact repeated 8-word
    block the operator must drop; other docs pass through (their natural
    exact-block repeats, if any, are also dropped).  Zero-shuffle narrow
    pass; oracle replays the block split + first-occurrence filter."""
    from ..operators.text import dedup_blocks, words

    docs = _docs(spark, sf_dir)
    ws = words(F.col("text"))
    planted = F.concat_ws(
        " ",
        F.concat_ws(" ", F.slice(ws, 1, 16)),
        F.concat_ws(" ", F.slice(ws, 1, 8)),
    )
    dirty = docs.withColumn(
        "text", F.when(F.col("doc_id") % 4 == 0, planted).otherwise(F.col("text"))
    )
    return dedup_blocks(dirty)


_BLOCK_DEDUP_SQL = r"""
WITH base AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws0, text
    FROM documents
),
dirty AS (
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0
                THEN array_to_string(ws0[1:16], ' ') || ' ' ||
                     array_to_string(ws0[1:8], ' ')
                ELSE text END AS text
    FROM base
),
b AS (
    SELECT doc_id,
           string_split_regex(trim(text), '\s+') AS ws,
           CAST(ceil(len(string_split_regex(trim(text), '\s+')) / 8.0) AS INT)
               AS nb
    FROM dirty
),
blk AS (
    SELECT doc_id, nb,
           list_transform(range(0, nb),
               i -> array_to_string(ws[i*8+1 : i*8+8], ' ')) AS blocks
    FROM b
),
k AS (
    SELECT doc_id, nb,
           list_filter(blocks, (x, i) -> list_position(blocks, x) = i) AS kept
    FROM blk
)
SELECT doc_id,
       CAST(nb AS BIGINT) AS n_blocks,
       CAST(len(kept) AS BIGINT) AS n_unique_blocks,
       CASE WHEN nb > 0 THEN ROUND(1 - len(kept) * 1.0 / nb, 4) ELSE 0.0 END
           AS dropped_ratio,
       array_to_string(kept, ' ') AS clean_text
FROM k
"""

QUERIES["doc_block_dedup"] = doc_block_dedup
ORACLES["doc_block_dedup"] = _BLOCK_DEDUP_SQL


# ---------------------------------------------------------------------------
# Capstone: the full dataset build as one composed plan
# ---------------------------------------------------------------------------

def corpus_build_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-dataset build — the whole pipeline a 100 TB
    pretraining run executes, composed as one declarative plan:

        curate (quality ∘ repetition ∘ near-dup canonical)
          → chunk (32/24 token windows)
          → pack (256-token budget within 64 hash shards)
          → split (hash train/val/test, keyed by DOC so every chunk of a
            document lands in the same split — eval-set hygiene)

    Everything after the shared dedup checkpoint is a single Catalyst
    plan: the curation filters push into the chunk scan, packing windows
    per shard, and the split is a pure projection.  The oracle replays
    the entire composition in SQL."""
    from ..operators.sampling import hash_bucket, train_val_test_split
    from ..operators.text import chunk_token_windows, pack_by_token_budget

    docs = _docs(spark, sf_dir)
    kept = corpus_curation_strict(spark, sf_dir).select("doc_id")
    curated = docs.join(kept, "doc_id")
    chunks = chunk_token_windows(curated, chunk_size=32, stride=24).withColumn(
        "pack_shard", hash_bucket(F.col("doc_id"), "pack", _PACK_SHARDS)
    )
    packed = pack_by_token_budget(chunks, budget=256, partition_cols=("pack_shard",))
    return train_val_test_split(packed, id_col="doc_id")


def _build_dataset_sql() -> str:
    from ..operators.sampling import split_oracle_sql

    strict = _curation_strict_sql().strip()
    shard = (
        f"(('0x' || substr(md5('pack:' || doc_id), 1, 15))::BIGINT"
        f" % {_PACK_SHARDS})"
    )
    return rf"""
WITH curated AS ({strict}),
cur_docs AS (
    SELECT d.doc_id, d.text FROM documents d
    JOIN curated USING (doc_id)
),
w AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM cur_docs
),
n AS (
    SELECT doc_id, ws,
           CAST(1 + ceil(greatest(len(ws) - 32, 0) / 24.0) AS BIGINT) AS n_chunks
    FROM w
),
idx AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS chunk_idx FROM n),
chunks AS (
    SELECT doc_id, chunk_idx,
           CAST(len(ws[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS BIGINT)
               AS n_chunk_tokens
    FROM idx
),
s AS (
    SELECT doc_id, chunk_idx, n_chunk_tokens, {shard} AS pack_shard
    FROM chunks
),
c AS (
    SELECT pack_shard, doc_id, chunk_idx, n_chunk_tokens,
           SUM(n_chunk_tokens) OVER (PARTITION BY pack_shard
               ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chunk_tokens AS excl
    FROM s
)
SELECT pack_shard, doc_id, chunk_idx, n_chunk_tokens,
       CAST(floor(excl / 256.0) AS BIGINT) AS pack_id,
       {split_oracle_sql()} AS split
FROM c
"""


QUERIES["corpus_build_dataset"] = corpus_build_dataset
ORACLES["corpus_build_dataset"] = _build_dataset_sql()


# ---------------------------------------------------------------------------
# Cross-document exact span dedup (operators/span_dedup.py)
# ---------------------------------------------------------------------------

def corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring scoring (operators/span_dedup.py): every 5-word
    span occurring in 2+ docs is charged to every doc except its min-id
    owner; docs above 50% borrowed spans are flagged.  Inverted-index
    shuffle on 60-bit span hashes only — no text crosses the network."""
    from ..operators.span_dedup import span_ownership

    return span_ownership(_docs(spark, sf_dir), span_words=5, flag_threshold=0.5)


def _span_dedup_sql() -> str:
    from ..operators.span_dedup import span_ownership_oracle_sql

    return span_ownership_oracle_sql(span_words=5, flag_threshold=0.5)


QUERIES["corpus_span_dedup"] = corpus_span_dedup
ORACLES["corpus_span_dedup"] = _span_dedup_sql()


# ---------------------------------------------------------------------------
# Gopher-style quality rules (operators/text.py::gopher_quality_flags)
# ---------------------------------------------------------------------------

def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-rule quality filter (Gopher §A1.1 / C4 heuristics) with
    per-rule audit columns.  The synthetic corpus has no symbol noise, so
    docs on residue class ``doc_id % 7 == 0`` get a deterministic planted
    ``" ### ... #"`` tail first — the differential test then exercises the
    symbol rule's reject path too (same planting in the oracle).  Pure
    zero-shuffle expressions."""
    from ..operators.text import gopher_quality_flags

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" ### ... #"))
        ).otherwise(F.col("text")),
    )
    return gopher_quality_flags(docs, min_words=40)


_GOPHER_SQL = r"""
WITH planted AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN text || ' ### ... #' ELSE text END AS text
    FROM documents
), w AS (
    SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS ws FROM planted
), m AS (
    SELECT doc_id, text, ws,
           CAST(len(ws) AS BIGINT) AS n_words,
           ROUND(list_aggregate(list_transform(ws, x -> length(x)), 'sum')
                 * 1.0 / len(ws), 4) AS mean_word_len,
           ROUND((length(text) - length(replace(text, '#', ''))
                  + floor((length(text) - length(replace(text, '...', ''))) / 3))
                 * 1.0 / len(ws), 4) AS symbol_ratio,
           ROUND(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
                 * 1.0 / len(ws), 4) AS alpha_frac,
           CAST(len(list_filter(ws,
                x -> x IN ('the','a','of','and','to','in'))) AS BIGINT)
               AS n_stopwords
    FROM w
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stopwords,
       (n_words >= 40 AND n_words <= 100000) AS rule_word_count,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS rule_mean_len,
       (symbol_ratio <= 0.1) AS rule_symbol,
       (alpha_frac >= 0.8) AS rule_alpha,
       (n_stopwords >= 2) AS rule_stopwords,
       ((n_words >= 40 AND n_words <= 100000)
        AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        AND (symbol_ratio <= 0.1)
        AND (alpha_frac >= 0.8)
        AND (n_stopwords >= 2)) AS passes
FROM m
"""

QUERIES["text_gopher_rules"] = text_gopher_rules
ORACLES["text_gopher_rules"] = _GOPHER_SQL


# ---------------------------------------------------------------------------
# Epoch upsampling mix (operators/sampling.py::epoch_upsample)
# ---------------------------------------------------------------------------

def corpus_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance-to-largest upsampling: small sources are repeated (capped at
    2.5 epochs) to match the largest source — the up-sampling complement of
    ``corpus_temperature_mix``.  Verified on the per-(source, epoch) doc
    counts, which pins every fractional-epoch hash decision without hashing
    a corpus-sized result."""
    from ..operators.sampling import epoch_upsample

    up = epoch_upsample(_docs(spark, sf_dir), max_epochs=2.5)
    return up.groupBy("source", "epoch").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


def _epoch_mix_sql() -> str:
    from ..operators.sampling import epoch_oracle_cte

    return f"""
WITH {epoch_oracle_cte(max_epochs=2.5).strip().lstrip()}
SELECT source, epoch, COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM up GROUP BY 1, 2
"""


QUERIES["corpus_epoch_mix"] = corpus_epoch_mix
ORACLES["corpus_epoch_mix"] = _epoch_mix_sql()


_STRAT_RATES = {"en": 0.25, "de": 0.75}


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-tuned per-stratum sampling (en 25%, de 75%, rest 100%) — the
    explicit-rates mixing knob.  Pure shuffle-free projection (the rates
    inline as a literal CASE); verified on the full sampled rows, so every
    per-document hash decision is hash-checked."""
    from ..operators.sampling import stratified_sample

    out = stratified_sample(_docs(spark, sf_dir), _STRAT_RATES, strata_col="lang")
    return out.select("doc_id", "lang", "source")


def _strat_sql() -> str:
    from ..operators.sampling import stratified_oracle_pred

    pred = stratified_oracle_pred(_STRAT_RATES, strata_col="lang")
    return f"SELECT doc_id, lang, source FROM documents WHERE {pred}"


QUERIES["corpus_stratified_sample"] = corpus_stratified_sample
ORACLES["corpus_stratified_sample"] = _strat_sql()


def embedding_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised-vs-labels diagnostic: the IVF k-means clusters crossed
    with the embeddings' ground-truth labels — per-cluster size, majority
    label, and purity (majority count / size, ties -> lower label).  The
    standard clustering-quality report, and free on top of the shared
    codebook: one assignment pass + a k x |labels| contingency aggregate;
    the DuckDB oracle replays training + assignment + the argmax."""
    from ..operators.ivf import ivf_assign

    emb = _emb(spark, sf_dir)
    centroids = _shared_ivf_centroids(spark, sf_dir)
    inv = ivf_assign(emb, centroids)
    cont = (
        inv.join(emb.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("cluster").orderBy(F.desc("n"), F.asc("label"))
    return (
        cont.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cluster_size", F.sum("n").over(W.partitionBy("cluster")).cast("long")
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            "cluster_size",
            F.col("label").cast("long").alias("majority_label"),
            F.col("n").alias("majority_n"),
            F.round(F.col("n") / F.col("cluster_size"), 4).alias("purity"),
        )
    )


def _cluster_purity_sql() -> str:
    from ..operators.ivf import ivf_cte_body

    body, _ = ivf_cte_body(k=8, iters=2, dim=EMB_DIM)
    return f"""
WITH {body},
cont AS (
    SELECT i.cluster, e.label, CAST(COUNT(*) AS BIGINT) AS n
    FROM inv i JOIN embeddings e ON i.neighbor_id = e.vec_id
    GROUP BY 1, 2
)
SELECT cluster, cluster_size,
       CAST(majority_label AS BIGINT) AS majority_label, majority_n,
       ROUND(majority_n * 1.0 / cluster_size, 4) AS purity
FROM (
    SELECT cluster, label AS majority_label, n AS majority_n,
           ROW_NUMBER() OVER (PARTITION BY cluster
               ORDER BY n DESC, label ASC) AS rn,
           CAST(SUM(n) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
    FROM cont)
WHERE rn = 1
"""


QUERIES["embedding_cluster_purity"] = embedding_cluster_purity
ORACLES["embedding_cluster_purity"] = _cluster_purity_sql()


# ---------------------------------------------------------------------------
# Unigram LM surprisal scoring (operators/lm_score.py)
# ---------------------------------------------------------------------------

def text_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: every doc scored by quantized
    unigram cross-entropy (integer log2 buckets — engine-exact, no float
    logs) against a deterministic 20% hash slice of the corpus as the
    reference LM.  One vocab aggregate over the slice, then a single
    broadcast-join corpus pass."""
    from ..operators.lm_score import unigram_surprisal_scores
    from ..operators.sampling import hash_bucket

    docs = _docs(spark, sf_dir)
    ref = docs.filter(hash_bucket(F.col("doc_id"), "lmref") < 2000)
    return unigram_surprisal_scores(docs, ref, flag_high=14.0)


def _lm_surprisal_sql() -> str:
    from ..operators.lm_score import unigram_surprisal_oracle_sql

    return unigram_surprisal_oracle_sql(
        ref_filter=(
            "(('0x' || substr(md5('lmref:' || doc_id), 1, 15))::BIGINT"
            " % 10000) < 2000"
        ),
        flag_high=14.0,
    )


QUERIES["text_lm_surprisal"] = text_lm_surprisal
ORACLES["text_lm_surprisal"] = _lm_surprisal_sql()


# ---------------------------------------------------------------------------
# Embedding int8 quantization (operators/quantize.py)
# ---------------------------------------------------------------------------

def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization acceptance report: dim,
    scale, and reconstruction error in grid units for every embedding.
    Zero-shuffle pure array expressions; the oracle replays the exact
    round-half-away arithmetic (IEEE-deterministic, no round() divergence)
    and re-verifies the 0.5-code error bound."""
    from ..operators.quantize import dequantize_error_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return dequantize_error_stats(emb)


_QUANTIZE_SQL = """
WITH q AS (
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           list_aggregate(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE))), 'max') AS scale
    FROM embeddings
), e AS (
    SELECT vec_id, dim, scale,
           CASE WHEN scale > 0 THEN scale ELSE 1.0 END AS safe
    FROM q
), err AS (
    SELECT e.vec_id, e.dim, e.scale,
           list_transform(emb.embedding,
               x -> abs(CAST(x AS DOUBLE) * 127.0 / e.safe
                        - (CASE WHEN CAST(x AS DOUBLE) > 0 THEN 1.0
                                WHEN CAST(x AS DOUBLE) < 0 THEN -1.0
                                ELSE 0.0 END
                           * floor(abs(CAST(x AS DOUBLE)) * 127.0 / e.safe
                                   + 0.5)))) AS eq
    FROM e JOIN embeddings emb USING (vec_id)
)
SELECT vec_id, dim,
       ROUND(scale, 6) AS scale,
       ROUND(list_aggregate(eq, 'max'), 4) AS max_abs_err_q,
       ROUND(list_reduce(list_prepend(0.0, eq), (a, b) -> a + b), 2)
           AS sum_abs_err_q
FROM err
"""

QUERIES["embedding_quantize_error"] = embedding_quantize_error
ORACLES["embedding_quantize_error"] = _QUANTIZE_SQL


# ---------------------------------------------------------------------------
# Vocabulary coverage (tokenizer-budget planning)
# ---------------------------------------------------------------------------

def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 vocabulary coverage report: for each of the corpus's 50 most
    frequent words (ties broken lexicographically), the cumulative fraction
    of all token occurrences covered — the curve a tokenizer-vocab budget
    is planned against.  The word-count aggregate shuffles once with
    map-side partials; top-K is TakeOrderedAndProject (no global sort
    materialization) and the K-row cumulative report is assembled
    driver-side (sanctioned tiny collect, cf. temperature cutoffs)."""
    from ..operators.text import words

    K = 50
    toks = _docs(spark, sf_dir).select(
        F.explode(words(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    total = counts.agg(F.sum("cnt")).collect()[0][0] or 0
    top = counts.orderBy(F.desc("cnt"), F.asc("w")).limit(K).collect()
    import math

    cum = 0
    rows = []
    for rank, r in enumerate(top, start=1):
        cum += r["cnt"]
        # round-half-AWAY like DuckDB/Spark ROUND (Python round() is
        # half-even — a silent hash-mismatch trap on .5 boundaries)
        cov = math.floor((cum / total) * 1e6 + 0.5) / 1e6
        rows.append((rank, r["w"], r["cnt"], cum, cov))
    return spark.createDataFrame(
        rows, "rank BIGINT, word STRING, cnt BIGINT, cum_cnt BIGINT, coverage DOUBLE"
    )


_VOCAB_COVERAGE_SQL = r"""
WITH toks AS (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
), c AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks WHERE w <> '' GROUP BY 1
), t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
top AS (
    SELECT w, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, w ASC) AS rank
    FROM c ORDER BY cnt DESC, w ASC LIMIT 50
)
SELECT CAST(rank AS BIGINT) AS rank, w AS word, cnt,
       CAST(SUM(cnt) OVER (ORDER BY rank
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_cnt,
       ROUND(SUM(cnt) OVER (ORDER BY rank
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            * 1.0 / t.total, 6) AS coverage
FROM top CROSS JOIN t
"""

QUERIES["corpus_vocab_coverage"] = corpus_vocab_coverage
ORACLES["corpus_vocab_coverage"] = _VOCAB_COVERAGE_SQL


# ---------------------------------------------------------------------------
# IVFADC ANN: compressed inverted lists + exact refine (operators/ivf.py)
# ---------------------------------------------------------------------------

def embedding_ivfadc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC-style ANN over int8-compressed inverted lists: residual SQ8
    codes (8x smaller lists), integer asymmetric-distance candidate
    ranking, exact rerank of the top k·refine survivors.  Shares the
    deterministic integer codebook with embedding_ivf_ann, and like it the
    ENTIRE pipeline — training, residual quantization, ADC scoring,
    refine — is replayed bit-for-bit by the DuckDB oracle (pure integer
    round-half-up codes + shifted-code floor-div reconstruction)."""
    from ..operators.ivf import ivfadc_ann_topk

    emb = _emb(spark, sf_dir)
    centroids = _shared_ivf_centroids(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivfadc_ann_topk(
        emb, queries, centroids, k=5, nprobe=2, refine=3
    ).select("query_id", "neighbor_id", "dist", "rank")


def _ivfadc_sql() -> str:
    from ..operators.ivf import ivfadc_oracle_sql

    return ivfadc_oracle_sql(k=8, iters=2, dim=EMB_DIM, topk=5, nprobe=2, refine=3)


QUERIES["embedding_ivfadc_ann"] = embedding_ivfadc_ann
ORACLES["embedding_ivfadc_ann"] = _ivfadc_sql()


# ---------------------------------------------------------------------------
# BM25 retrieval + model-based scoring (operators/retrieval.py, importance.py)
# ---------------------------------------------------------------------------

BM25_QUERY_TERMS = ("spark", "vector", "stream", "hash", "window")


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents per query term — the sparse first-stage
    retriever paired with the ANN path for hybrid search / hard-negative
    mining.  One corpus pass filtered to the query vocabulary; doc length
    carried through the explode so there is no second scan (see
    operators/retrieval.py)."""
    from ..operators.retrieval import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), BM25_QUERY_TERMS, k=10)


def _bm25_sql() -> str:
    from ..operators.retrieval import bm25_oracle_sql

    return bm25_oracle_sql(BM25_QUERY_TERMS, k=10)


def corpus_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality classifier (fastText-shaped): tokens →
    md5 hashing-trick buckets → shipped-weight lookup → mean score + sign
    label.  Integer-exact until one rounded division
    (operators/importance.py)."""
    from ..operators.importance import linear_quality_scores

    return linear_quality_scores(_docs(spark, sf_dir))


def _quality_classifier_sql() -> str:
    from ..operators.importance import LINEAR_QUALITY_SQL

    return LINEAR_QUALITY_SQL


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023) of every document vs. the
    `lang = 'en'` target slice: unigram log-likelihood ratios with add-one
    smoothing, fixed-point quantized per term so all aggregation is
    order-free bigint arithmetic (operators/importance.py)."""
    from ..operators.importance import dsir_weights

    return dsir_weights(_docs(spark, sf_dir))


def _dsir_sql() -> str:
    from ..operators.importance import dsir_oracle_sql

    return dsir_oracle_sql("en")


QUERIES["text_bm25_topk"] = text_bm25_topk
ORACLES["text_bm25_topk"] = _bm25_sql()
QUERIES["corpus_quality_classifier"] = corpus_quality_classifier
ORACLES["corpus_quality_classifier"] = _quality_classifier_sql()
QUERIES["corpus_dsir_weights"] = corpus_dsir_weights
ORACLES["corpus_dsir_weights"] = _dsir_sql()


def embedding_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval rank fusion: reciprocal-rank fusion (RRF, k=60) of
    the exact cosine ranker and the IVF ANN ranker over the same query set.
    The production shape for ensembling a sparse and a dense retriever —
    here both components are fully oracle-replayable, so the fused oracle
    replays BOTH retrieval algorithms end-to-end and then the identical
    coalesce/round arithmetic (operators/retrieval.py)."""
    from ..operators.retrieval import rrf_fuse

    dense = embedding_cosine_topk(spark, sf_dir)
    ivf = embedding_ivf_ann(spark, sf_dir)
    return rrf_fuse(dense, ivf, topk=5)


def _hybrid_rrf_sql() -> str:
    from ..operators.retrieval import rrf_oracle_sql

    return rrf_oracle_sql(_topk_sql(), _ivf_sql(), topk=5)


QUERIES["embedding_hybrid_rrf"] = embedding_hybrid_rrf
ORACLES["embedding_hybrid_rrf"] = _hybrid_rrf_sql()


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: instead of min-doc_id, each
    near-dup cluster keeps its LONGEST member (n_tokens desc, doc_id asc
    tie-break) — what production pipelines actually do (the first crawl
    of a page is often the truncated one).  Composes the session-shared
    connected-components stage with a per-cluster argmax window: one
    extra exchange on cluster_id over (doc_id, cluster_id, n_tokens)
    triples, never the document bodies."""
    from pyspark.sql import Window as W

    from ..operators.text import words

    cl = _shared_clusters(spark, sf_dir, threshold=0.5)
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.size(words(F.col("text"))).cast("long").alias("n_tokens")
    )
    j = cl.join(tok, "doc_id")
    w = W.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cluster_size", F.count(F.lit(1)).over(W.partitionBy("cluster_id"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc_id"),
            "n_tokens",
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


def _keep_best_sql() -> str:
    # same recursive transitive closure as _clusters_sql, then the argmax
    cl_sql = _clusters_sql().strip()
    # reuse the standalone clusters SQL verbatim as a CTE body: strip the
    # leading WITH RECURSIVE and re-open it inside this query's WITH
    assert cl_sql.upper().startswith("WITH RECURSIVE")
    inner = cl_sql[len("WITH RECURSIVE") :]
    ctes, final_select = inner.rsplit("\nSELECT", 1)
    return f"""
WITH RECURSIVE {ctes},
cl AS (SELECT{final_select}),
tok AS (
    SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens
    FROM documents
), r AS (
    SELECT cl.doc_id, cluster_id, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY n_tokens DESC, cl.doc_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cl JOIN tok USING (doc_id)
)
SELECT cluster_id, doc_id AS keep_doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM r WHERE rn = 1
"""


QUERIES["dedup_keep_best"] = dedup_keep_best
ORACLES["dedup_keep_best"] = _keep_best_sql()


# ---------------------------------------------------------------------------
# Round-5 additions: winnowing fingerprints (MOSS), ANN recall-at-k
# evaluation, cross-lingual near-dup mining.
# ---------------------------------------------------------------------------


def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document fingerprints (Schleimer et al. 2003 — the MOSS
    scheme): 3-gram hashes, window w=4, per-window minimum selection with
    the stacked-window formulation that needs ONE exchange and no
    self-join (operators/span_dedup.py::winnowing_fingerprints).  Any
    shared substring of >= w+k-1 = 6 tokens guarantees a shared
    fingerprint at ~2/(w+1) storage density — the principled subsample of
    span_ownership's keep-everything span index."""
    from ..operators.span_dedup import winnowing_fingerprints

    return winnowing_fingerprints(_docs(spark, sf_dir), k=3, w=4)


def _winnowing_sql() -> str:
    from ..operators.span_dedup import winnowing_oracle_sql

    return winnowing_oracle_sql("documents", k=3, w=4)


def embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH ANN path measured against the exact cosine
    top-k, per query: ``(query_id, hits, recall_bp)``.  The eval-harness
    query an ANN deployment runs continuously — approximate index vs
    exact baseline on a fixed query panel — expressed as one left-semi
    join between the two top-k tables and an integer basis-point recall.
    Composes the registered operators (exact: sanctioned broadcast-panel
    baseline; approximate: the 4x8 OR-amplified LSH), so the oracle
    replays BOTH algorithms and the recall arithmetic bit-for-bit."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=5, dim=EMB_DIM).select(
        "query_id", "neighbor_id"
    )
    approx = lsh_bucket_topk(
        emb, queries, dim=EMB_DIM, k=5, n_planes=_ANN_PLANES,
        n_tables=_ANN_TABLES,
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            (F.coalesce(F.col("hits"), F.lit(0)) * 10000 / F.lit(5))
            .cast("long")
            .alias("recall_bp"),
        )
    )


def _ann_recall_sql() -> str:
    # WITH-inside-FROM composition (DuckDB supports CTEs in subqueries):
    # both component oracles are reused verbatim, so this oracle can never
    # drift from the queries it evaluates.
    return f"""
WITH ex AS (SELECT query_id, neighbor_id FROM ({_topk_sql()}) t),
ap AS (SELECT query_id, neighbor_id FROM ({_lsh_ann_sql()}) t),
hits AS (
    SELECT ex.query_id, COUNT(*) AS hits
    FROM ex SEMI JOIN ap USING (query_id, neighbor_id)
    GROUP BY 1
)
SELECT q.vec_id AS query_id,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(h.hits, 0) * 10000 / 5 AS BIGINT) AS recall_bp
FROM (SELECT vec_id FROM embeddings WHERE vec_id < 20) q
LEFT JOIN hits h ON h.query_id = q.vec_id
"""


def dedup_cross_lingual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual duplicate mining: n-gram-Jaccard near-dup pairs
    whose two documents carry DIFFERENT language tags — the signal a
    curation pipeline uses to find copy-paste translations / mislabeled
    languages (same capped inverted-index join as dedup_ngram_jaccard
    (NGRAM_MAX_DOC_FREQ stop-shingle cap, r12 rollout), then one
    metadata join; at 100 TB the lang join is doc-keyed and rides the
    pair table's partitioning).  Emits (id_a, id_b, jaccard, lang_a,
    lang_b)."""
    docs = _docs(spark, sf_dir)
    pairs = _pair_base_jaccard(spark, sf_dir, threshold=0.5)
    la = docs.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("lang_a"))
    lb = docs.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("lang_b"))
    return (
        pairs.join(la, "id_a")
        .join(lb, "id_b")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select("id_a", "id_b", "jaccard", "lang_a", "lang_b")
    )


_CROSS_LINGUAL_SQL = f"""
WITH p AS (SELECT * FROM ({_JACCARD_SQL}) t)
SELECT p.id_a, p.id_b, p.jaccard, da.lang AS lang_a, db.lang AS lang_b
FROM p
JOIN documents da ON p.id_a = da.doc_id
JOIN documents db ON p.id_b = db.doc_id
WHERE da.lang <> db.lang
"""


QUERIES["text_winnowing_fingerprints"] = text_winnowing_fingerprints
ORACLES["text_winnowing_fingerprints"] = _winnowing_sql()
QUERIES["embedding_ann_recall"] = embedding_ann_recall
ORACLES["embedding_ann_recall"] = _ann_recall_sql()
QUERIES["dedup_cross_lingual"] = dedup_cross_lingual
ORACLES["dedup_cross_lingual"] = _CROSS_LINGUAL_SQL


def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit: near-duplicate pairs that CROSS the
    train/val/test boundary — each one is an eval example whose
    near-copy sits in training data, silently inflating eval scores (the
    split-level complement of corpus_decontaminate's external-benchmark
    check).  Same capped inverted-index jaccard join as
    dedup_ngram_jaccard (NGRAM_MAX_DOC_FREQ stop-shingle cap, r12
    rollout); the hash-bucket split assignment rides the pair table with
    two doc-keyed joins.  Emits (id_a, id_b, jaccard, split_a, split_b) with
    split_a != split_b."""
    from ..operators.sampling import train_val_test_split

    docs = _docs(spark, sf_dir)
    tagged = train_val_test_split(docs).select("doc_id", "split")
    pairs = _pair_base_jaccard(spark, sf_dir, threshold=0.5)
    sa = tagged.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = tagged.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )


def _split_leakage_sql() -> str:
    from ..operators.sampling import split_oracle_sql

    split = split_oracle_sql()
    return f"""
WITH p AS (SELECT * FROM ({_JACCARD_SQL}) t),
s AS (SELECT doc_id, {split} AS split FROM documents)
SELECT p.id_a, p.id_b, p.jaccard, sa.split AS split_a, sb.split AS split_b
FROM p
JOIN s sa ON p.id_a = sa.doc_id
JOIN s sb ON p.id_b = sb.doc_id
WHERE sa.split <> sb.split
"""


QUERIES["corpus_split_leakage"] = corpus_split_leakage
ORACLES["corpus_split_leakage"] = _split_leakage_sql()


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs (Broder): |A∩B| / min(|A|,|B|)
    — catches a short document subsumed by a longer one (excerpts,
    boilerplate wrappers), which symmetric Jaccard under-scores because
    the length gap inflates the union.  Same inverted-index shape as
    dedup_ngram_jaccard, integer-exact basis points
    (operators/dedup.py::containment_pairs) — derived from the
    session-shared capped pair base (same sizes-after-cap algebra and
    casts as the operator, one inverted-index self-join per session)."""
    return (
        _shared_pair_base(spark, sf_dir)
        .select(
            "id_a",
            "id_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("shared").cast("long").alias("shared"),
            F.expr("(shared * 10000) div least(n_a, n_b)").alias("containment_bp"),
        )
        .filter(F.col("containment_bp") >= 5000)
    )


_CONTAINMENT_SQL = rf"""
WITH {_capped_sh_ctes()},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(sa.n_sh AS BIGINT) AS n_a,
       CAST(sb.n_sh AS BIGINT) AS n_b,
       CAST(shared AS BIGINT) AS shared,
       (shared * 10000) // LEAST(sa.n_sh, sb.n_sh) AS containment_bp
FROM shared
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE (shared * 10000) // LEAST(sa.n_sh, sb.n_sh) >= 5000
"""

QUERIES["dedup_containment"] = dedup_containment
ORACLES["dedup_containment"] = _CONTAINMENT_SQL


def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.: the
    head/middle/tail split that CCNet uses to stratify CommonCrawl by LM
    quality): every doc's unigram surprisal is ranked WITHIN its
    language and split 30/40/30 — head = lowest-surprisal 30%.  Ranking
    key is the exact integer milli-bits-per-token
    ``(sum_bits·10⁶) div n_tokens`` (never the rounded float — both
    engines rank identical integers), doc_id tiebreak, cross-multiplied
    integer percentile cuts (the domain-percentile-filter discipline).

    Shape: the surprisal scorer's one corpus pass + vocab broadcast,
    then a per-language window rank (exchange on lang) over the
    |docs|-row score table, folded to |langs × 3| rows."""
    from ..operators.lm_score import unigram_surprisal_scores
    from ..operators.sampling import hash_bucket

    docs = _docs(spark, sf_dir)
    ref = docs.filter(hash_bucket(F.col("doc_id"), "lmref") < 2000)
    scores = unigram_surprisal_scores(docs, ref, flag_high=14.0).select(
        "doc_id",
        "n_tokens",
        "sum_bits",
        F.expr(
            "CASE WHEN n_tokens > 0 THEN (sum_bits * 1000000) div n_tokens"
            " ELSE 0 END"
        ).alias("mean_mbits"),
    )
    from pyspark.sql import Window

    ranked = scores.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "n_tokens",
        "mean_mbits",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                F.col("mean_mbits").asc(), F.col("doc_id").asc()
            )
        )
        .alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    bucket = (
        F.when(F.col("rk") * 10 <= F.col("n") * 3, F.lit("head"))
        .when(F.col("rk") * 10 <= F.col("n") * 7, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ranked.select("lang", bucket.alias("ppl_bucket"), "n_tokens", "mean_mbits")
        .groupBy("lang", "ppl_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.max("mean_mbits").cast("long").alias("max_mean_mbits"),
        )
    )


def _ppl_buckets_sql() -> str:
    from ..operators.lm_score import unigram_surprisal_oracle_sql

    inner = unigram_surprisal_oracle_sql(
        ref_filter=(
            "(('0x' || substr(md5('lmref:' || doc_id), 1, 15))::BIGINT"
            " % 10000) < 2000"
        ),
        flag_high=14.0,
    )
    return f"""
WITH s AS ({inner}),
m AS (
    SELECT s.doc_id, d.lang, s.n_tokens,
           CASE WHEN s.n_tokens > 0
                THEN (s.sum_bits * 1000000) // s.n_tokens
                ELSE 0 END AS mean_mbits
    FROM s JOIN documents d USING (doc_id)
), r AS (
    SELECT lang, n_tokens, mean_mbits,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY mean_mbits ASC, doc_id ASC) AS rk,
           COUNT(*) OVER (PARTITION BY lang) AS n
    FROM m
)
SELECT lang,
       CASE WHEN rk * 10 <= n * 3 THEN 'head'
            WHEN rk * 10 <= n * 7 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(MAX(mean_mbits) AS BIGINT) AS max_mean_mbits
FROM r GROUP BY 1, 2
"""


QUERIES["corpus_perplexity_buckets"] = corpus_perplexity_buckets
ORACLES["corpus_perplexity_buckets"] = _ppl_buckets_sql()


def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-quality audit (the dedup twin of
    embedding_ann_recall): for every LSH candidate pair, the
    signature-agreement Jaccard ESTIMATE (matching permutations / 16,
    in basis points) next to the EXACT shingle-set Jaccard, plus the
    error — so the 16-permutation/4-band config is a measured tradeoff,
    not a folklore setting.

    Exact side reuses the inverted-index join (never all-pairs); the
    estimate side joins the two signatures on the candidate pair — both
    sides shuffle id-pair keys only."""
    from ..operators.dedup import lsh_band_keys, minhash_signatures

    docs = _docs(spark, sf_dir)
    # ONE signature pass shared by the candidate stage and both sides of
    # the estimate join: the previous form called minhash_lsh_pairs(docs)
    # AND minhash_signatures(docs), running the shingle+16-min aggregation
    # subtree up to three times per execution (8 parquet scans in the
    # plan).  The pinned table is O(docs x num_perm) ints — the persisted
    # signature artifact a production audit would read (guide §2.4/§5).
    sigs = pin(minhash_signatures(docs, num_perm=16))
    banded = lsh_band_keys(sigs, num_perm=16, bands=4)
    ba, bb = banded.alias("a"), banded.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates()
    )
    a = sigs.select(F.col("doc_id").alias("id_a"),
                    F.col("signature").alias("a_sig"))
    b = sigs.select(F.col("doc_id").alias("id_b"),
                    F.col("signature").alias("b_sig"))
    agree = F.expr(
        "aggregate(zip_with(a_sig, b_sig, (x, y) -> IF(x = y, 1, 0)),"
        " 0, (acc, v) -> acc + v)"
    )
    # 10000/16 = 625 exactly: the estimate is an INTEGER multiple, no
    # float division
    est = cand.join(a, "id_a").join(b, "id_b").select(
        "id_a", "id_b", (agree * F.lit(625)).cast("long").alias("est_bp"),
    )
    # exact Jaccard from the inverted-index pair stats, all-integer:
    # shared·10⁴ div (|A|+|B|−shared) — never the rounded float.  The
    # pair stats come from the session-shared capped pair base (identical
    # to containment_pairs(docs, threshold_bp=0): bp >= 0 always holds,
    # so the unthresholded operator call WAS the full base — r12
    # change 16 family).
    exact = _shared_pair_base(spark, sf_dir).select(
        "id_a",
        "id_b",
        F.expr("(shared * 10000) div (n_a + n_b - shared)").alias("exact_bp"),
    )
    return est.join(exact, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "est_bp",
        F.coalesce("exact_bp", F.lit(0)).alias("exact_bp"),
        (F.col("est_bp") - F.coalesce("exact_bp", F.lit(0))).alias("err_bp"),
    )


def _minhash_audit_sql(num_perm: int = 16, bands: int = 4) -> str:
    """Replays dedup_minhash_estimate_audit: the kv/sig CTEs are the
    shared minhash chain (_minhash_kv_cte); agreement is counted over
    the same h0..h15 columns; the exact side is the 60-bit-hash
    inverted-index Jaccard in integer basis points."""
    eq_terms = " + ".join(
        f"CASE WHEN sa.h{p} = sb.h{p} THEN 1 ELSE 0 END"
        for p in range(num_perm)
    )
    return f"""
WITH {_minhash_kv_cte(num_perm, bands)},
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM kv a JOIN kv b ON a.band = b.band AND a.bk = b.bk
                       AND a.doc_id < b.doc_id
),
est AS (
    SELECT c.id_a, c.id_b,
           CAST(({eq_terms}) * 625 AS BIGINT) AS est_bp
    FROM cand c
    JOIN sig sa ON c.id_a = sa.doc_id
    JOIN sig sb ON c.id_b = sb.doc_id
),
sh60_all AS (
    SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
    FROM sh
),
-- exact leg rides the NGRAM_MAX_DOC_FREQ stop-shingle cap (r12 cap
-- rollout, same filter as containment_pairs); the minhash kv/sig chain
-- above stays UNCAPPED — signatures are min-over-all-shingles by spec
sh60 AS (
    SELECT doc_id, h FROM sh60_all
    WHERE h IN (SELECT h FROM sh60_all GROUP BY h
                HAVING COUNT(*) <= {NGRAM_MAX_DOC_FREQ})
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh60 GROUP BY 1),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh60 a JOIN sh60 b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
exact AS (
    SELECT id_a, id_b,
           (shared * 10000) // (sa.n_sh + sb.n_sh - shared) AS exact_bp
    FROM shared
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
)
SELECT e.id_a, e.id_b, e.est_bp,
       CAST(COALESCE(x.exact_bp, 0) AS BIGINT) AS exact_bp,
       CAST(e.est_bp - COALESCE(x.exact_bp, 0) AS BIGINT) AS err_bp
FROM est e LEFT JOIN exact x ON e.id_a = x.id_a AND e.id_b = x.id_b
"""


QUERIES["dedup_minhash_estimate_audit"] = dedup_minhash_estimate_audit
ORACLES["dedup_minhash_estimate_audit"] = _minhash_audit_sql()


_RAKE_STOPS = (
    "the a an of to in and or is are was were for on with as by at from"
).split()


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus: split
    each document into candidate phrases at stopwords, score every word
    as degree/frequency (degree = Σ phrase lengths it appears in —
    co-occurrence incl. self; frequency = occurrence count), then score
    phrases as the sum of member word scores.  Top-20 corpus keywords by
    (score desc, phrase asc).

    Integer discipline: word_score_fp = degree·10⁴ div freq (exact in
    both engines), phrase scores are sums of those fps — no float
    crosses.  Shape: one narrow corpus pass to phrases (explode), one
    word-stats aggregate (vocab-bounded), one phrase re-join via
    explode + groupBy, TakeOrdered(20) — no global window."""
    stop_re = "(?i)\\b(" + "|".join(_RAKE_STOPS) + ")\\b"
    docs = _docs(spark, sf_dir)
    phrases = (
        docs.select(
            F.explode(
                F.split(
                    F.regexp_replace(F.col("text"), stop_re, "|"), "\\|"
                )
            ).alias("p")
        )
        .select(F.trim(F.regexp_replace("p", "\\s+", " ")).alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    pw = phrases.select(
        "phrase",
        F.split(F.col("phrase"), " ").alias("ws"),
    ).select("phrase", F.size("ws").alias("plen"), F.explode("ws").alias("w"))
    stats = pw.groupBy("w").agg(
        F.sum("plen").cast("long").alias("degree"),
        F.count(F.lit(1)).cast("long").alias("freq"),
    )
    scored = (
        pw.join(stats, "w")
        .groupBy("phrase")
        .agg(
            # Σ over word OCCURRENCES in this phrase instance... but we
            # grouped phrase TEXT: each identical phrase instance adds an
            # identical word-score sum, so divide by the instance count —
            # equivalently aggregate per phrase text over ONE instance's
            # words: sum(score)/n_instances stays integral because every
            # instance contributes the same integer.  Done exactly below.
            F.sum(F.expr("(degree * 10000) div freq")).alias("raw"),
            F.count(F.lit(1)).alias("occ"),
            F.max("plen").alias("plen"),
        )
        .select(
            "phrase",
            F.expr("raw div (occ div plen)").alias("score_fp"),
        )
    )
    return (
        scored.orderBy(F.col("score_fp").desc(), F.col("phrase").asc())
        .limit(20)
        .select("phrase", F.col("score_fp").cast("long").alias("score_fp"))
    )


def _rake_sql() -> str:
    stop_re = "(?i)\\b(" + "|".join(_RAKE_STOPS) + ")\\b"
    return f"""
WITH ph AS (
    SELECT trim(regexp_replace(p, '\\s+', ' ', 'g')) AS phrase
    FROM (
        SELECT unnest(string_split(
                   regexp_replace(text, '{stop_re}', '|', 'g'), '|')) AS p
        FROM documents)
    WHERE trim(regexp_replace(p, '\\s+', ' ', 'g')) <> ''
), pw AS (
    SELECT phrase, len(string_split(phrase, ' ')) AS plen,
           unnest(string_split(phrase, ' ')) AS w
    FROM ph
), stats AS (
    SELECT w, CAST(SUM(plen) AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS freq
    FROM pw GROUP BY 1
), scored AS (
    SELECT phrase,
           SUM((degree * 10000) // freq) AS raw,
           COUNT(*) AS occ,
           MAX(plen) AS plen
    FROM pw JOIN stats USING (w)
    GROUP BY 1
)
SELECT phrase,
       CAST(raw // (occ // plen) AS BIGINT) AS score_fp
FROM scored
ORDER BY score_fp DESC, phrase ASC
LIMIT 20
"""


QUERIES["text_rake_keywords"] = text_rake_keywords
ORACLES["text_rake_keywords"] = _rake_sql()


_GRAM_SCALE = 1024  # 2^10 quantization grid for exact integer products


def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram (scatter) matrix of the embedding corpus — the input
    to PCA/whitening/linear-probe fits: G[i,j] = Σ_v q_i(v)·q_j(v) over
    2¹⁰-grid quantized coordinates (float dot products are fold-order-
    dependent across engines; integer grid products are not — the
    quantize_error discipline).  Upper triangle only (G is symmetric):
    dim·(dim+1)/2 = 2080 output rows at dim 64.

    Shape: ONE narrow pass — quantization stays a JVM expression (the
    float grid op must be the same IEEE op in both engines), then each
    Arrow batch contributes one upper-triangular partial Gram via an
    exact int64 numpy matmul (X^T X; |q| <= 1024 so every product and
    batch sum is far under 2^63 — the SemDedup bit-exactness precedent),
    and the groupBy folds dim²-bounded partials with map-side sums.
    The r12 rewrite: the previous nested-transform explode emitted
    vectors x dim(dim+1)/2 interpreted struct rows (4.2 M at sf0.1) —
    measured 2.46 s vs ~0.4 s for identical sums (guide §4.2)."""
    import pandas as pd

    emb = _emb(spark, sf_dir)
    q = emb.withColumn(
        "qv",
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(x * 1024 + 0.5) AS BIGINT))"
        ),
    )

    def _gram_partials(batches):
        import numpy as np

        iu = None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["qv"].to_numpy()).astype(np.int64, copy=False)
            if iu is None:
                iu = np.triu_indices(x.shape[1])
            g = x.T @ x
            yield pd.DataFrame(
                {"i": iu[0], "j": iu[1], "p": g[iu]}
            )

    return (
        q.select("qv")
        .mapInPandas(_gram_partials, "i bigint, j bigint, p bigint")
        .groupBy("i", "j")
        .agg(F.sum("p").cast("long").alias("gram_fp"))
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "gram_fp",
        )
    )


_GRAM_SQL = r"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(FLOOR(x * 1024 + 0.5) AS BIGINT)) AS qv,
           len(embedding) AS d
    FROM embeddings
)
SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
       CAST(SUM(qv[i + 1] * qv[j + 1]) AS BIGINT) AS gram_fp
FROM q, range(0, 64) r1(i), range(0, 64) r2(j)
WHERE i < d AND j < d AND j >= i
GROUP BY 1, 2
"""

QUERIES["embedding_gram_matrix"] = embedding_gram_matrix
ORACLES["embedding_gram_matrix"] = _GRAM_SQL


def corpus_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained dataset selection: rank the corpus by a
    quality score and admit documents greedily until a global token
    budget (30% of corpus tokens) is spent — the data-selection step a
    training pipeline runs after curation ("take the best N tokens").
    Quality = lexical diversity in basis points (distinct-word ratio,
    integer floor-div — engine-exact); order = (quality desc, doc_id) —
    a strict total order so the greedy cut is deterministic.

    Scale shape: the cumulative-token cut uses the distributed prefix
    sum (operators/prefix.py) — range exchange + per-partition running
    sums + a |partitions|-row offset collect; NO single-partition global
    window (the plan gate bans it).  The oracle replays the same greedy
    cut with DuckDB's global window, which is fine at oracle scale.

    Report per source: docs admitted, tokens admitted, and the worst
    quality that made the cut."""
    from ..operators.prefix import partitioned_prefix_sum
    from ..operators.text import words

    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(words(F.col("text"))))
        .cast("long")
        .alias("n_distinct"),
    )
    q = d.filter(F.col("n_tokens") > 0).withColumn(
        "quality_bp", F.expr("n_distinct * 10000 div n_tokens")
    )
    cum, total_tokens = partitioned_prefix_sum(
        q,
        "n_tokens",
        [F.col("quality_bp").desc(), F.col("doc_id").asc()],
    )
    budget = total_tokens * 3 // 10
    return (
        cum.filter(F.col("__cum") <= F.lit(budget))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_selected"),
            F.sum("n_tokens").cast("long").alias("tokens_selected"),
            F.min("quality_bp").cast("long").alias("min_quality_bp"),
        )
    )


_TOKEN_BUDGET_SQL = r"""
WITH d AS (
    SELECT doc_id, source,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           len(list_distinct(string_split_regex(trim(text), '\s+')))
               AS n_distinct
    FROM documents
), q AS (
    SELECT doc_id, source, n_tokens,
           n_distinct * 10000 // n_tokens AS quality_bp
    FROM d WHERE n_tokens > 0
), c AS (
    SELECT *,
           SUM(n_tokens) OVER (ORDER BY quality_bp DESC, doc_id ASC
                               ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(n_tokens) OVER () AS total
    FROM q
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS docs_selected,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_selected,
       CAST(MIN(quality_bp) AS BIGINT) AS min_quality_bp
FROM c
WHERE cum <= total * 3 // 10
GROUP BY 1
"""

QUERIES["corpus_token_budget_select"] = corpus_token_budget_select
ORACLES["corpus_token_budget_select"] = _TOKEN_BUDGET_SQL


def corpus_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle → fixed-count training shards
    (WebDataset / tf.data layout): every document gets a pseudorandom
    but reproducible order key (the house 60-bit md5 hash), the corpus
    is totally ordered by it, and contiguous rank ranges become 16
    shards balanced to ±1 document — the write-layout step between
    curation and the training loop, where shard balance decides
    data-loader stragglers.

    shard = (rank − 1) * 16 // N over the hash order: identical on any
    engine, stable under retries (no RNG, no partition-dependent
    state).  Rank comes from the distributed prefix machinery (range
    exchange + offset map), never a global window.

    Report per shard: docs, tokens, and the order-key span — adjacent
    spans proves the assignment is contiguous in shuffle order, equal
    doc counts proves balance."""
    from ..operators.prefix import partitioned_prefix_sum
    from ..operators.sketch import h60
    from ..operators.text import words

    n_shards = 16
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
        h60(F.col("doc_id"), "shard-shuffle-v1").alias("okey"),
    )
    ranked, _ = partitioned_prefix_sum(
        d,
        "n_tokens",
        [F.col("okey").asc(), F.col("doc_id").asc()],
    )
    # N for the shard formula: one bounded 1-row collect (metadata, like
    # the prefix offset map itself), folded in as a literal.
    total = ranked.agg(F.max("__rank").alias("n")).collect()[0]["n"]
    return (
        ranked.withColumn(
            "shard", F.expr(f"((__rank - 1) * {n_shards}) div {total}")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("okey").cast("long").alias("okey_lo"),
            F.max("okey").cast("long").alias("okey_hi"),
        )
    )


def _shard_sql() -> str:
    from ..operators.sketch import h60_sql

    okey = h60_sql("doc_id", "shard-shuffle-v1")
    return rf"""
WITH d AS (
    SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           {okey} AS okey
    FROM documents
), r AS (
    SELECT *,
           ROW_NUMBER() OVER (ORDER BY okey ASC, doc_id ASC) AS rnk,
           COUNT(*) OVER () AS n
    FROM d
)
SELECT (rnk - 1) * 16 // n AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(MIN(okey) AS BIGINT) AS okey_lo,
       CAST(MAX(okey) AS BIGINT) AS okey_hi
FROM r
GROUP BY 1
"""


QUERIES["corpus_shard_assignment"] = corpus_shard_assignment
ORACLES["corpus_shard_assignment"] = _shard_sql()


def corpus_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the hashed-linear quality classifier against an
    independent truth label (lang = 'en'), per source — the model-eval
    step a curation pipeline runs before trusting a filter: AUC via the
    Mann-Whitney rank-sum identity
        AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos · n_neg)
    over the STRICT total order (score, doc_id) — the doc_id tiebreak
    makes the rank (hence the AUC) bit-identical on any engine, the
    house alternative to tie-averaged midranks (float midranks would
    reintroduce the decimal seam the fleet bans).  Score is the
    classifier's integer fixed-point score_sum·10⁴ div n_tokens.

    Scale shape: ranks come from a PARTITIONED window (per source),
    never a global one; one exchange on source, integer arithmetic end
    to end, basis-point output."""
    from ..operators.importance import linear_quality_scores

    docs = _docs(spark, sf_dir)
    scored = linear_quality_scores(docs).select(
        "doc_id",
        F.expr("score_sum * 10000 div n_tokens").alias("score_fp"),
    )
    lab = docs.select(
        "doc_id", "source", (F.col("lang") == "en").alias("pos")
    )
    j = scored.join(lab, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.col("score_fp").asc(), F.col("doc_id").asc()
    )
    ranked = j.withColumn("rnk", F.row_number().over(w).cast("long"))
    return (
        ranked.groupBy("source")
        .agg(
            F.sum(F.when(F.col("pos"), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum(F.when(F.col("pos"), 0).otherwise(1))
            .cast("long")
            .alias("n_neg"),
            F.sum(F.when(F.col("pos"), F.col("rnk")).otherwise(0))
            .cast("long")
            .alias("rank_sum_pos"),
        )
        .withColumn(
            "auc_bp",
            F.expr(
                "CASE WHEN n_pos > 0 AND n_neg > 0 THEN "
                "(rank_sum_pos - n_pos * (n_pos + 1) div 2) * 10000 "
                "div (n_pos * n_neg) END"
            ).cast("long"),
        )
    )


def _classifier_auc_sql() -> str:
    from ..operators.importance import LINEAR_QUALITY_SQL

    return rf"""
WITH lq AS ({LINEAR_QUALITY_SQL}),
j AS (
    SELECT d.doc_id, d.source, d.lang = 'en' AS pos,
           lq.score_sum * 10000 // lq.n_tokens AS score_fp
    FROM documents d JOIN lq ON d.doc_id = lq.doc_id
),
r AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY score_fp ASC, doc_id ASC) AS rnk
    FROM j
),
a AS (
    SELECT source,
           CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
           CAST(SUM(CASE WHEN pos THEN rnk ELSE 0 END) AS BIGINT)
               AS rank_sum_pos
    FROM r GROUP BY 1
)
SELECT source, n_pos, n_neg, rank_sum_pos,
       CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN
            (rank_sum_pos - n_pos * (n_pos + 1) // 2) * 10000
            // (n_pos * n_neg) END AS BIGINT) AS auc_bp
FROM a
"""


QUERIES["corpus_classifier_auc"] = corpus_classifier_auc
ORACLES["corpus_classifier_auc"] = _classifier_auc_sql()


_PI_RESCALE = 1 << 22  # inter-iteration down-shift keeping products in int64


def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus by TWO
    integer power iterations over the exact Gram matrix — the spectral
    read-out PCA/whitening starts from: u¹ = G·1, u² = G·v¹, each
    intermediate down-shifted by 2²² via the sign-safe mod-subtract
    truncation ((a − a%b) div b — exact division after rounding toward
    zero, identical under Spark's truncating `div` and DuckDB's flooring
    `//`) so every product stays in int64 (G entries reach ~6·10¹⁰ at
    corpus scale; unshifted u² would need 25 digits).  Output is the
    direction normalized to basis points of its largest component —
    scale-free, so the down-shifts don't bias it.

    Scale shape: the ONLY corpus-sized work is the Gram pass itself
    (map-side pair products, dim²-bounded agg — embedding_gram_matrix);
    both iterations then run on the 64×64 = dim²-row matrix, and the
    max-|component| normalizer is a dim-bounded collect folded in as a
    literal (the IVF-centroid collect class)."""
    # pin the dim²-row Gram before mirroring: both union branches (and
    # both iterations) reference it, and without the checkpoint each
    # reference re-runs the full corpus pair-product pass.
    g = pin(embedding_gram_matrix(spark, sf_dir))
    full = g.unionByName(
        g.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "gram_fp"
        )
    )
    u1 = full.groupBy("i").agg(F.sum("gram_fp").alias("u1"))
    v1 = u1.select(
        F.col("i").alias("j"),
        F.expr(f"(u1 - (u1 % {_PI_RESCALE})) div {_PI_RESCALE}").alias("v1"),
    )
    u2 = (
        full.join(v1, "j")
        .groupBy("i")
        .agg(F.sum(F.expr("gram_fp * v1")).alias("u2"))
    )
    w = pin(
        u2.select(
            "i",
            F.expr(f"(u2 - (u2 % {_PI_RESCALE})) div {_PI_RESCALE}").alias("w"),
        )
    )
    m = max(
        int(w.agg(F.max(F.abs(F.col("w"))).alias("m")).collect()[0]["m"] or 0),
        1,
    )
    return w.select(
        F.col("i").cast("long").alias("i"),
        F.expr(f"(w * 10000 - ((w * 10000) % {m})) div {m}")
        .cast("long")
        .alias("comp_bp"),
    )


_POWER_ITER_SQL = rf"""
WITH gram AS ({_GRAM_SQL}),
full_g AS (
    SELECT i, j, gram_fp FROM gram
    UNION ALL
    SELECT j AS i, i AS j, gram_fp FROM gram WHERE i <> j
),
u1 AS (SELECT i, SUM(gram_fp) AS u1 FROM full_g GROUP BY i),
v1 AS (SELECT i AS j, (u1 - (u1 % {_PI_RESCALE})) // {_PI_RESCALE} AS v1
       FROM u1),
u2 AS (
    SELECT f.i, SUM(f.gram_fp * v.v1) AS u2
    FROM full_g f JOIN v1 v ON f.j = v.j GROUP BY f.i
),
w AS (SELECT i, (u2 - (u2 % {_PI_RESCALE})) // {_PI_RESCALE} AS w FROM u2),
m AS (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w)
SELECT CAST(w.i AS BIGINT) AS i,
       CAST((w.w * 10000 - ((w.w * 10000) % m.m)) // m.m AS BIGINT) AS comp_bp
FROM w, m
"""

QUERIES["embedding_power_iteration"] = embedding_power_iteration
ORACLES["embedding_power_iteration"] = _POWER_ITER_SQL


_QUIET_WINDOWS = 32


def multimodal_audio_quiet_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-VAD quiet-segment map per audio payload: wav_wrap each
    doc's bytes as canonical mono 8-bit PCM, then the 32-window
    below-own-mean deviation mask with its run-length structure
    (operators/multimodal.py::wav_quiet_segments) — the clip-cutting
    segmentation a speech pipeline runs before transcription, and the
    multimodal analogue of the text repetition/run-length family.  The
    oracle replays windows, cross-multiplied quiet bits, AND the
    run-length decomposition (bin()-string splitting) in DuckDB."""
    from ..operators.multimodal import wav_quiet_segments, wav_wrap

    return wav_quiet_segments(
        wav_wrap(_media(spark, sf_dir)), n_windows=_QUIET_WINDOWS
    )


def _quiet_seg_sql(n_windows: int = _QUIET_WINDOWS) -> str:
    def dsum(w: int) -> str:
        return (
            f"CAST(list_aggregate(list_transform("
            f"range(n_bytes * {w} // {n_windows} + 1,"
            f" n_bytes * {w + 1} // {n_windows} + 1),"
            f" i -> abs(('0x' || substr(h, 2*i - 1, 2))::BIGINT - 128)),"
            f" 'sum') AS BIGINT)"
        )

    def wlen(w: int) -> str:
        return f"(n_bytes * {w + 1} // {n_windows} - n_bytes * {w} // {n_windows})"

    ds = ",\n           ".join(
        f"COALESCE({dsum(w)}, 0) AS d{w}" for w in range(n_windows)
    )
    dtot = " + ".join(f"d{w}" for w in range(n_windows))
    mask = " + ".join(
        f"CASE WHEN d{w} * n_bytes < dtot * {wlen(w)}"
        f" THEN CAST({1 << w} AS BIGINT) ELSE 0 END"
        for w in range(n_windows)
    )
    return f"""
WITH hx AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
), d AS (
    SELECT doc_id, modality, n_bytes,
           {ds}
    FROM hx
), t AS (
    SELECT *, ({dtot}) AS dtot FROM d
), k AS (
    SELECT doc_id, modality, ({mask}) AS quiet_mask FROM t
), runs AS (
    SELECT doc_id, modality, quiet_mask,
           list_filter(string_split(bin(quiet_mask), '0'),
                       s -> s <> '') AS rl
    FROM k
)
SELECT doc_id AS media_id, modality, quiet_mask,
       CAST(COALESCE(list_aggregate(list_transform(rl, s -> length(s)),
                                    'sum'), 0) AS BIGINT) AS n_quiet,
       CAST(len(rl) AS BIGINT) AS n_segments,
       CAST(COALESCE(list_aggregate(list_transform(rl, s -> length(s)),
                                    'max'), 0) AS BIGINT) AS longest_run
FROM runs
"""


QUERIES["multimodal_audio_quiet_segments"] = multimodal_audio_quiet_segments
ORACLES["multimodal_audio_quiet_segments"] = _quiet_seg_sql()


def dedup_lsh_candidate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality audit of the MinHash-LSH banding against exact
    n-gram Jaccard at the production threshold (0.5): precision and
    recall of the LSH pair set in basis points — the measured-not-
    claimed number for the core dedup path itself (the estimator audit
    covers signature quality; THIS covers what banding actually
    surfaces, i.e. the S-curve's real operating point at r=4 rows/band).
    One full-outer join of the two pair sets (both generated by the
    scale-shaped inverted-index / band-join plans, never all-pairs; the
    exact leg rides the NGRAM_MAX_DOC_FREQ stop-shingle cap since r12,
    so the audited ground truth is the production geometry itself) and
    a single global aggregate row."""
    docs = _docs(spark, sf_dir)
    e = (
        _pair_base_jaccard(spark, sf_dir, threshold=0.5)
        .select("id_a", "id_b")
        .withColumn("in_e", F.lit(1))
    )
    l = (
        minhash_lsh_pairs(docs, num_perm=16, bands=4)
        .select("id_a", "id_b")
        .withColumn("in_l", F.lit(1))
    )
    j = e.join(l, ["id_a", "id_b"], "full_outer").select(
        F.coalesce(F.col("in_e"), F.lit(0)).alias("in_e"),
        F.coalesce(F.col("in_l"), F.lit(0)).alias("in_l"),
    )
    return (
        j.agg(
            F.sum("in_e").cast("long").alias("n_exact"),
            F.sum("in_l").cast("long").alias("n_lsh"),
            F.sum(F.col("in_e") * F.col("in_l")).cast("long").alias("n_both"),
        )
        .withColumn(
            "precision_bp",
            F.expr(
                "CASE WHEN n_lsh > 0 THEN n_both * 10000 div n_lsh END"
            ).cast("long"),
        )
        .withColumn(
            "recall_bp",
            F.expr(
                "CASE WHEN n_exact > 0 THEN n_both * 10000 div n_exact END"
            ).cast("long"),
        )
    )


def _lsh_audit_sql() -> str:
    return rf"""
WITH e AS (SELECT id_a, id_b FROM ({ORACLES["dedup_ngram_jaccard"]})),
l AS (SELECT id_a, id_b FROM ({ORACLES["dedup_minhash_lsh"]})),
j AS (
    SELECT CASE WHEN e.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_e,
           CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_l
    FROM e FULL OUTER JOIN l
      ON e.id_a = l.id_a AND e.id_b = l.id_b
), a AS (
    SELECT CAST(SUM(in_e) AS BIGINT) AS n_exact,
           CAST(SUM(in_l) AS BIGINT) AS n_lsh,
           CAST(SUM(in_e * in_l) AS BIGINT) AS n_both
    FROM j
)
SELECT n_exact, n_lsh, n_both,
       CAST(CASE WHEN n_lsh > 0 THEN n_both * 10000 // n_lsh END AS BIGINT)
           AS precision_bp,
       CAST(CASE WHEN n_exact > 0 THEN n_both * 10000 // n_exact END
            AS BIGINT) AS recall_bp
FROM a
"""


QUERIES["dedup_lsh_candidate_audit"] = dedup_lsh_candidate_audit
ORACLES["dedup_lsh_candidate_audit"] = _lsh_audit_sql()


def text_zipf_fit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language — the corpus-health diagnostic
    (natural text shows log-freq ≈ −s·log-rank with s ≈ 1; generated
    or template-heavy corpora bend the curve): token frequencies per
    lang, rank by (freq desc, term), both axes quantized to INTEGER
    log2 buckets (the bin()-length idiom — no float logs), and the
    least-squares slope over the bucket pairs computed from exact
    integer sums:  slope_milli = 1000·(nΣxy − ΣxΣy) div (nΣx² − (Σx)²).

    One explode + one (lang, term) agg + a per-lang rank window + one
    per-lang reduce; slope magnitudes near 1000 ⇒ Zipfian.  Report per
    lang: vocab size, token count, slope_milli."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang",
        F.explode(
            F.split(F.trim(F.col("text")), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    freq = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    xy = freq.select(
        "lang",
        "cnt",
        (F.length(F.bin(F.row_number().over(w))) - 1).alias("x"),
        (F.length(F.bin(F.col("cnt"))) - 1).alias("y"),
    )
    return (
        xy.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("CAST(x AS BIGINT) * y")).alias("sxy"),
            F.sum(F.expr("CAST(x AS BIGINT) * x")).alias("sxx"),
        )
        .withColumn(
            "slope_milli",
            # decimal(38,0) on the FACTORS before the inner multiply (the
            # LTTB lesson): vocab·Σxy is ~10³·vocab², which wraps int64
            # past vocab ≈ 10⁷ — exactly the claimed-scale regime.  The
            # QUOTIENT is ≤ ~4·10⁴, so decimal `div`'s BIGINT result
            # cannot wrap; the oracle runs the same shape in HUGEINT.
            F.expr(
                "CASE WHEN CAST(vocab AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))"
                " - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)) <> 0 THEN"
                " CAST(1000 AS DECIMAL(38,0)) *"
                " (CAST(vocab AS DECIMAL(38,0)) * CAST(sxy AS DECIMAL(38,0))"
                "  - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0)))"
                " div (CAST(vocab AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))"
                "  - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))) END"
            ).cast("long"),
        )
        .select("lang", "vocab", "n_tokens", "slope_milli")
    )


_ZIPF_SQL = r"""
WITH toks AS (
    SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS term
    FROM documents
), freq AS (
    SELECT lang, term, COUNT(*) AS cnt
    FROM toks WHERE term <> '' GROUP BY 1, 2
), xy AS (
    SELECT lang, cnt,
           length(bin(ROW_NUMBER() OVER (PARTITION BY lang
                                         ORDER BY cnt DESC, term ASC))) - 1
               AS x,
           length(bin(cnt)) - 1 AS y
    FROM freq
), a AS (
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM xy GROUP BY 1
)
SELECT lang, vocab, n_tokens,
       CAST(CASE WHEN vocab::HUGEINT * sxx - sx::HUGEINT * sx <> 0 THEN
            1000::HUGEINT * (vocab::HUGEINT * sxy - sx::HUGEINT * sy)
            // (vocab::HUGEINT * sxx - sx::HUGEINT * sx) END
            AS BIGINT) AS slope_milli
FROM a
"""

QUERIES["text_zipf_fit_audit"] = text_zipf_fit_audit
ORACLES["text_zipf_fit_audit"] = _ZIPF_SQL


def text_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-based language identifier against
    the labeled ``lang`` column — the model-eval companion to
    corpus_classifier_auc for the categorical case: per (true, predicted)
    cell the doc count, plus the per-true-language recall in basis
    points (count on the diagonal ÷ row total, integer floor-div via a
    row-total self-aggregation, no window).  The eval a pipeline runs
    before trusting language routing for per-language curation gates."""
    docs = _docs(spark, sf_dir)
    pred = language_id(docs)
    cells = (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    row_tot = cells.groupBy("lang").agg(F.sum("n_docs").alias("row_n"))
    return (
        cells.join(row_tot, "lang")
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.expr(
                "CASE WHEN lang = pred_lang THEN n_docs * 10000 div row_n END"
            )
            .cast("long")
            .alias("recall_bp"),
        )
    )


def _lang_confusion_sql() -> str:
    return rf"""
WITH pred AS ({_langid_sql()}),
cells AS (
    SELECT d.lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    GROUP BY 1, 2
),
row_tot AS (SELECT lang, SUM(n_docs) AS row_n FROM cells GROUP BY 1)
SELECT c.lang, c.pred_lang, c.n_docs,
       CAST(CASE WHEN c.lang = c.pred_lang
                 THEN c.n_docs * 10000 // r.row_n END AS BIGINT) AS recall_bp
FROM cells c JOIN row_tot r ON c.lang = r.lang
"""


QUERIES["text_language_confusion"] = text_language_confusion
ORACLES["text_language_confusion"] = _lang_confusion_sql()


def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty per source: what fraction of each document's
    distinct 3-gram shingles appears for the FIRST time in the corpus
    in that document (first = min doc_id over the shingle's postings) —
    the freshness/diversity audit a crawl pipeline watches to decide
    when a source is mined out (novelty decays as a source repeats
    itself).  Shingle machinery is the shared map-side-distinct 60-bit
    hash (operators/dedup.py::shingle_hashes); attribution is ONE
    groupBy(h) min + a rejoin keyed on the 8-byte hash.

    Report per source: docs, distinct-shingle instances, first-seen
    instances, novelty in basis points."""
    from ..operators.dedup import shingle_hashes

    docs = _docs(spark, sf_dir)
    sh = shingle_hashes(docs)
    first = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_sh").cast("long").alias("n_shingles"),
            F.sum("n_novel").cast("long").alias("n_first_seen"),
        )
        .withColumn(
            "novelty_bp",
            F.expr("n_first_seen * 10000 div n_shingles").cast("long"),
        )
    )


_NGRAM_NOVELTY_SQL = r"""
WITH ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh AS (
    SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM ws) WHERE s IS NOT NULL AND s <> ''
),
first AS (SELECT h, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
per_doc AS (
    SELECT sh.doc_id,
           COUNT(*) AS n_sh,
           SUM(CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END) AS n_novel
    FROM sh JOIN first f ON sh.h = f.h
    GROUP BY 1
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_sh) AS BIGINT) AS n_shingles,
       CAST(SUM(p.n_novel) AS BIGINT) AS n_first_seen,
       CAST(SUM(p.n_novel) * 10000 // SUM(p.n_sh) AS BIGINT) AS novelty_bp
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY 1
"""

QUERIES["corpus_ngram_novelty"] = corpus_ngram_novelty
ORACLES["corpus_ngram_novelty"] = _NGRAM_NOVELTY_SQL


def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-hash image fingerprints: wrap 16×12 P6 → nearest
    resize to 9×8 → dHash (operators/multimodal.py::dhash_ppm —
    horizontal gray gradients, 64 bits as two BIGINT halves +
    popcount).  aHash's standard complement: gradient bits survive the
    global brightness shifts that move aHash's mean threshold, so
    near-dup bucketing on (ahash, dhash) agreement cuts each hash's
    false-pair class.  Oracle replays the wrap→resize→gradient chain via
    precomputed source-byte offsets, same as the aHash oracle."""
    from ..operators.multimodal import dhash_ppm, ppm_wrap, resize_ppm_nearest

    wrapped = ppm_wrap(_media(spark, sf_dir), width=_PPM_W, height=_PPM_H)
    return dhash_ppm(resize_ppm_nearest(wrapped, 9, 8))


def _ppm_dhash_sql() -> str:
    ys = [(y * _PPM_H) // 8 for y in range(8)]
    xs = [(x * _PPM_W) // 9 for x in range(9)]

    def byte_at(off: int) -> str:
        return (
            f"CASE WHEN {off} < n_bytes"
            f" THEN ('0x' || substr(h, {2 * off + 1}, 2))::BIGINT ELSE 0 END"
        )

    grays = []
    for y in ys:  # row-major over the resized 9x8 grid
        for x in xs:
            base = (y * _PPM_W + x) * 3
            grays.append(
                f"(({byte_at(base)}) + ({byte_at(base + 1)})"
                f" + ({byte_at(base + 2)})) // 3"
            )
    gs = ",\n        ".join(grays)
    # gs is row-major 9-wide: gray[r][c] = gs[r*9 + c + 1] (1-based);
    # bit index i = r*8 + c compares gs[r*9+c+1] vs gs[r*9+c+2]
    def bit(i: int, shift: int) -> str:
        r, c = divmod(i, 8)
        a, b = r * 9 + c + 1, r * 9 + c + 2
        return (
            f"CASE WHEN gs[{a}] > gs[{b}]"
            f" THEN CAST({1 << shift} AS BIGINT) ELSE 0 END"
        )

    hi = " + ".join(bit(i, i) for i in range(32))
    lo = " + ".join(bit(i + 32, i) for i in range(32))
    n_set = " + ".join(
        f"CASE WHEN gs[{divmod(i, 8)[0] * 9 + divmod(i, 8)[1] + 1}]"
        f" > gs[{divmod(i, 8)[0] * 9 + divmod(i, 8)[1] + 2}]"
        f" THEN 1 ELSE 0 END"
        for i in range(64)
    )
    return f"""
WITH hx AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
), g AS (
    SELECT doc_id, modality,
        [{gs}] AS gs
    FROM hx
)
SELECT doc_id AS media_id, modality,
       CAST({hi} AS BIGINT) AS dhash_hi,
       CAST({lo} AS BIGINT) AS dhash_lo,
       CAST({n_set} AS BIGINT) AS n_set
FROM g
"""


QUERIES["multimodal_image_dhash"] = multimodal_image_dhash
ORACLES["multimodal_image_dhash"] = _ppm_dhash_sql()


def dedup_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve, measured: candidate counts AND recall/precision
    vs exact Jaccard ≥ 0.5 at three banding configs over the SAME
    16-permutation signatures — (bands, rows/band) ∈ {(2,8), (4,4),
    (8,2)}.  More bands ⇒ more candidates ⇒ recall up, precision down;
    this query turns that folklore into the table you pick production
    banding from.  Scale shape: the expensive signature pass (one md5
    per shingle) runs ONCE and is localCheckpoint-pinned; each config
    only re-slices the 16-value signatures and runs its band-key
    equality join — the same amortization a real parameter sweep uses.
    The exact leg rides the NGRAM_MAX_DOC_FREQ stop-shingle cap (r12
    rollout), so recall is measured against the runnable-at-100 TB
    ground truth rather than the quadratic uncapped one."""
    from ..operators.dedup import lsh_band_keys, minhash_signatures

    docs = _docs(spark, sf_dir)
    exact = pin(
        _pair_base_jaccard(spark, sf_dir, threshold=0.5)
        .select("id_a", "id_b")
        .withColumn("in_e", F.lit(1))
    )
    n_exact = max(exact.count(), 1)
    sig = pin(minhash_signatures(docs, num_perm=16))
    outs = []
    for b in (2, 4, 8):
        banded = lsh_band_keys(sig, num_perm=16, bands=b)
        a, bb = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(
                bb,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .dropDuplicates()
        )
        flagged = cand.join(exact, ["id_a", "id_b"], "left")
        outs.append(
            flagged.agg(
                F.count(F.lit(1)).cast("long").alias("n_candidates"),
                F.sum(F.coalesce(F.col("in_e"), F.lit(0)))
                .cast("long")
                .alias("n_true"),
            ).select(
                F.lit(b).cast("long").alias("bands"),
                F.lit(16 // b).cast("long").alias("rows_per_band"),
                "n_candidates",
                "n_true",
                F.expr(
                    "CASE WHEN n_candidates > 0 THEN"
                    " n_true * 10000 div n_candidates END"
                )
                .cast("long")
                .alias("precision_bp"),
                F.expr(f"n_true * 10000 div {n_exact}")
                .cast("long")
                .alias("recall_bp"),
            )
        )
    out = outs[0]
    for fr in outs[1:]:
        out = out.unionByName(fr)
    return out


def _band_sweep_sql() -> str:
    per_cfg = []
    for b in (2, 4, 8):
        per_cfg.append(
            f"""
SELECT CAST({b} AS BIGINT) AS bands, CAST({16 // b} AS BIGINT) AS rows_per_band,
       n_candidates, n_true,
       CAST(CASE WHEN n_candidates > 0
                 THEN n_true * 10000 // n_candidates END AS BIGINT)
           AS precision_bp,
       CAST(n_true * 10000 // GREATEST((SELECT COUNT(*) FROM exact), 1)
            AS BIGINT) AS recall_bp
FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN e.id_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true
    FROM (SELECT id_a, id_b FROM ({_minhash_sql(16, b)})) c
    LEFT JOIN exact e ON c.id_a = e.id_a AND c.id_b = e.id_b
)"""
        )
    union = "\nUNION ALL\n".join(per_cfg)
    return rf"""
WITH exact AS (SELECT id_a, id_b FROM ({_JACCARD_SQL}))
{union}
"""


QUERIES["dedup_minhash_band_sweep"] = dedup_minhash_band_sweep
ORACLES["dedup_minhash_band_sweep"] = _band_sweep_sql()


def multimodal_video_shot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary structure per video payload: 64-byte frames, cuts
    at above-own-mean energy deltas, run-length decomposition into shots
    (operators/multimodal.py::video_shot_segments) — the segmentation
    that precedes per-shot frame sampling, completing the video family
    (frame-set near-dup → temporal structure).  Oracle replays frames,
    deltas, the relative threshold AND the cut-position run lengths with
    DuckDB list arithmetic."""
    from ..operators.multimodal import video_shot_segments

    media = _media(spark, sf_dir).filter(F.col("modality") == "video")
    return video_shot_segments(media)


_SHOT_SEG_SQL = r"""
WITH hx AS (
    SELECT doc_id, hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    WHERE doc_id % 3 = 2
), f AS (
    SELECT doc_id, n_bytes, (n_bytes + 63) // 64 AS nf,
           list_transform(range(0, (n_bytes + 63) // 64),
               w -> COALESCE(list_aggregate(list_transform(
                        range(64 * w + 1, least(64 * (w + 1), n_bytes) + 1),
                        i -> ('0x' || substr(h, 2 * i - 1, 2))::BIGINT),
                    'sum'), 0)) AS es
    FROM hx
), d AS (
    SELECT doc_id, nf, es,
           list_transform(range(1, nf), w -> abs(es[w] - es[w + 1])) AS ds
    FROM f
), c AS (
    SELECT doc_id, nf,
           list_filter(range(1, nf),
               w -> abs(es[w] - es[w + 1]) * (nf - 1)
                    > COALESCE(list_aggregate(ds, 'sum'), 0)) AS cuts
    FROM d
), r AS (
    SELECT doc_id, nf, cuts,
           list_concat(list_concat([0::BIGINT],
                                   list_transform(cuts, x -> x::BIGINT)),
                       [nf::BIGINT]) AS cp
    FROM c
)
SELECT doc_id AS media_id,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(len(cuts) AS BIGINT) AS n_cuts,
       CAST(CASE WHEN nf > 0 THEN len(cuts) + 1 ELSE 0 END AS BIGINT)
           AS n_shots,
       CAST(CASE WHEN nf > 0 THEN
            list_aggregate(list_transform(range(1, len(cp)),
                                          k -> cp[k + 1] - cp[k]), 'max')
            ELSE 0 END AS BIGINT) AS longest_shot
FROM r
"""

QUERIES["multimodal_video_shot_segments"] = multimodal_video_shot_segments
ORACLES["multimodal_video_shot_segments"] = _SHOT_SEG_SQL


def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose screen per source — the curation gate that routes
    documents to a code pipeline (or drops them from a prose corpus):
    symbol density in basis points (count of {}();=<>[] characters ÷
    chars, integer floor-div — measured by deleting the symbol class and
    differencing lengths, which both engines do identically), flagged at
    > 150 bp.  Zero shuffle before the per-source agg; one narrow
    projection over the corpus.

    Report per source: docs, flagged docs, flagged share (bp), mean
    symbol density (bp, exact sum÷count)."""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "source",
        F.length("text").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), r"[{}();=<>\[\]]", ""))
        ).alias("n_sym"),
    ).filter(F.col("n_chars") > 0)
    flagged = scored.withColumn(
        "sym_bp", F.expr("n_sym * 10000 div n_chars")
    ).withColumn("is_code", (F.col("sym_bp") > 150).cast("int"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_code").cast("long").alias("code_docs"),
            F.sum("sym_bp").alias("sum_sym_bp"),
        )
        .select(
            "source",
            "n_docs",
            "code_docs",
            F.expr("code_docs * 10000 div n_docs").cast("long").alias("code_share_bp"),
            F.expr("sum_sym_bp div n_docs").cast("long").alias("mean_sym_bp"),
        )
    )


_CODE_DETECT_SQL = r"""
WITH scored AS (
    SELECT source,
           length(text) AS n_chars,
           length(text) - length(regexp_replace(text, '[{}();=<>\[\]]', '', 'g'))
               AS n_sym
    FROM documents WHERE length(text) > 0
), f AS (
    SELECT source, n_sym * 10000 // n_chars AS sym_bp FROM scored
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN sym_bp > 150 THEN 1 ELSE 0 END) AS BIGINT)
           AS code_docs,
       CAST(SUM(CASE WHEN sym_bp > 150 THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS code_share_bp,
       CAST(SUM(sym_bp) // COUNT(*) AS BIGINT) AS mean_sym_bp
FROM f GROUP BY 1
"""

QUERIES["text_code_detection"] = text_code_detection
ORACLES["text_code_detection"] = _CODE_DETECT_SQL


def embedding_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: top-5 cosine retrieval using
    only the FIRST 32 of 64 dimensions, scored by overlap with the
    full-dimension top-5 per query — the measurement behind serving
    embeddings at half width (half the memory bandwidth and ANN index
    size) and re-ranking with full vectors.  Same broadcast-query-panel
    brute-force baseline as embedding_cosine_topk (test-scale oracle
    twin; production swaps in the LSH/IVF path); the half-width leg
    slices arrays JVM-side, and the oracle folds range(1,33) over the
    same arrays — bit-identical left-to-right double arithmetic.

    Report per query: overlap count (0–5) and overlap_bp."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    full = cosine_topk(emb, queries, k=5, dim=EMB_DIM).select(
        "query_id", "neighbor_id"
    )
    half_emb = emb.withColumn("embedding", F.slice("embedding", 1, 32))
    half = cosine_topk(
        half_emb, half_emb.filter(F.col("vec_id") < 20), k=5
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        full.join(half, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("overlap")
        )
        .withColumn(
            "overlap_bp", F.expr("overlap * 10000 div 5").cast("long")
        )
    )


def _matryoshka_sql() -> str:
    cos_full = _cos_sql("qv", "cv", EMB_DIM)
    cos_half = _cos_sql("qv", "cv", 32)

    def topk(cos: str, tag: str) -> str:
        return f"""
{tag}_s AS (
    SELECT query_id, neighbor_id, ROUND({cos}, 4) AS sim
    FROM c CROSS JOIN q WHERE neighbor_id <> query_id
),
{tag}_r AS (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM {tag}_s
)"""

    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
{topk(cos_full, "full")},
{topk(cos_half, "half")}
SELECT f.query_id,
       CAST(COUNT(h.neighbor_id) AS BIGINT) AS overlap,
       CAST(COUNT(h.neighbor_id) * 10000 // 5 AS BIGINT) AS overlap_bp
FROM (SELECT * FROM full_r WHERE rank <= 5) f
LEFT JOIN (SELECT * FROM half_r WHERE rank <= 5) h
  ON f.query_id = h.query_id AND f.neighbor_id = h.neighbor_id
GROUP BY 1
"""


QUERIES["embedding_matryoshka_overlap"] = embedding_matryoshka_overlap
ORACLES["embedding_matryoshka_overlap"] = _matryoshka_sql()


# ---------------------------------------------------------------------------
# PMI collocations + feature-hashing collision audit.
# ---------------------------------------------------------------------------

_PMI_MIN_SUPPORT = 3
_PMI_TOPK = 20


def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word collocations by pointwise mutual information:
    pmi = log2(c_ab * N / (c_a * c_b)) over raw (non-distinct) adjacent
    bigram counts, min support 3 — the association measure behind
    phrase-merging passes in tokenizer pipelines (word2phrase, Mikolov
    et al. 2013), complementary to text_bigram_surprisal (conditional
    next-word probability) and text_top_bigrams (raw document frequency).

    Plan shape: one token explode -> unigram groupBy (vocab-bounded,
    broadcast back twice), one bigram explode -> groupBy; ranking happens
    on the ROUNDED pmi with the bigram string as tie-break so cross-
    engine float noise in log2 cannot reorder (the text_tfidf_top_terms
    convention).  N folds in as a 1-int scalar collect."""
    from ..operators.text import bigrams, words

    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(words(F.col("text"))).alias("w"))
    # pin the vocab-bounded unigram table: N, the w1 branch and the w2
    # branch all read it — unpinned, each is its own full tokenize pass
    # (measured 5.0 s -> 3.0 s at sf0.1)
    uni = pin(
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tokens = uni.agg(F.sum("c")).collect()[0][0]  # scalar, no extra scan
    bic = (
        docs.select(F.explode(bigrams(F.col("text"))).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_SUPPORT)
    )
    # No broadcast hint: the unigram table is vocab-shaped (Heaps-sublinear
    # but still growing at probe scale — the r5 lesson: hints on growing
    # relations are pure risk).  AQE broadcasts it at runtime if small.
    split = bic.withColumn("p", F.split("bg", " "))
    joined = (
        split.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a")),
            split.p[0] == F.col("w1"),
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b")),
            split.p[1] == F.col("w2"),
        )
        .select(
            "bg",
            "c_ab",
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            F.round(
                F.log2(
                    F.col("c_ab")
                    * F.lit(float(n_tokens))
                    / (F.col("c_a") * F.col("c_b"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return joined.orderBy(F.col("pmi").desc(), F.col("bg").asc()).limit(
        _PMI_TOPK
    )


_PMI_SQL = rf"""
WITH ws AS (SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
toks AS (SELECT unnest(w) AS w FROM ws),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_tok FROM toks),
uni AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY 1),
bi AS (
    SELECT unnest(list_transform(range(1, greatest(len(w), 1)),
                                 i -> w[i] || ' ' || w[i+1])) AS bg
    FROM ws
),
bic AS (
    SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bi
    WHERE bg IS NOT NULL GROUP BY 1
    HAVING COUNT(*) >= {_PMI_MIN_SUPPORT}
),
j AS (
    SELECT bg, c_ab,
           CAST(ua.c AS BIGINT) AS c_a, CAST(ub.c AS BIGINT) AS c_b,
           ROUND(log2(c_ab * (SELECT n_tok FROM n)
                      / (ua.c * ub.c)), 4) AS pmi
    FROM bic
    JOIN uni ua ON string_split(bg, ' ')[1] = ua.w
    JOIN uni ub ON string_split(bg, ' ')[2] = ub.w
)
SELECT bg, c_ab, c_a, c_b, pmi FROM j
ORDER BY pmi DESC, bg ASC LIMIT {_PMI_TOPK}
"""

QUERIES["text_pmi_collocations"] = text_pmi_collocations
ORACLES["text_pmi_collocations"] = _PMI_SQL


_FH_DIMS = (4096, 16384, 65536)


def text_feature_hashing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit: project the corpus vocabulary into
    fixed feature spaces of 2^12 / 2^14 / 2^16 buckets (the fastText /
    Vowpal-Wabbit featurization) and measure what the projection costs —
    occupied buckets, max bucket load, and the share of terms that lost
    identity to a collision (collision_bp).  The number that decides how
    small a hashed classifier's weight vector can be before quality drops.

    One vocab groupBy, then ONE pass hashing each term against all three
    dims via an exploded literal array (no per-dim rescan) and two
    tiny aggregates (<= sum(dims) rows).  Engine-portable md5 h60 hash
    (operators/sketch.py) so DuckDB reproduces bucket ids exactly."""
    from ..operators.sketch import h60
    from ..operators.text import words

    docs = _docs(spark, sf_dir)
    vocab = (
        docs.select(F.explode(words(F.col("text"))).alias("w"))
        .distinct()
        .select("w", h60(F.col("w"), "feathash").alias("h"))
    )
    loads = (
        vocab.select(
            "h",
            F.explode(
                F.array(*[F.lit(m).cast("long") for m in _FH_DIMS])
            ).alias("dim"),
        )
        .groupBy("dim", F.expr("h % dim").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("load"))
    )
    return (
        loads.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("occupied"),
            F.sum("load").cast("long").alias("vocab"),
            F.max("load").cast("long").alias("max_load"),
            F.sum(
                F.when(F.col("load") > 1, F.col("load") - 1).otherwise(0)
            )
            .cast("long")
            .alias("collided_terms"),
        )
        .withColumn(
            "collision_bp",
            F.expr("collided_terms * 10000 div vocab").cast("long"),
        )
    )


QUERIES["text_feature_hashing_audit"] = text_feature_hashing_audit


def _fh_sql() -> str:
    from ..operators.sketch import h60_sql

    dims = ", ".join(str(m) for m in _FH_DIMS)
    return rf"""
WITH v AS (
    SELECT DISTINCT unnest(string_split_regex(trim(text), '\s+')) AS w
    FROM documents
),
hv AS (SELECT {h60_sql('w', 'feathash')} AS h FROM v),
d AS (
    SELECT h, CAST(dim AS BIGINT) AS dim
    FROM hv CROSS JOIN (SELECT unnest([{dims}]) AS dim)
),
b AS (SELECT dim, h % dim AS bucket, COUNT(*) AS load FROM d GROUP BY 1, 2)
SELECT dim,
       CAST(COUNT(*) AS BIGINT) AS occupied,
       CAST(SUM(load) AS BIGINT) AS vocab,
       CAST(MAX(load) AS BIGINT) AS max_load,
       CAST(SUM(CASE WHEN load > 1 THEN load - 1 ELSE 0 END) AS BIGINT)
           AS collided_terms,
       CAST(SUM(CASE WHEN load > 1 THEN load - 1 ELSE 0 END) * 10000
            // SUM(load) AS BIGINT) AS collision_bp
FROM b GROUP BY 1
"""


ORACLES["text_feature_hashing_audit"] = _fh_sql()


# ---------------------------------------------------------------------------
# Sign-bit binary quantization + hamming recall audit.
# ---------------------------------------------------------------------------

_BITQ_HI = (
    "aggregate(slice(embedding, 1, 32), CAST(0 AS BIGINT), "
    "(acc, x) -> acc * 2 + IF(x >= 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT)))"
)
_BITQ_LO = (
    "aggregate(slice(embedding, 33, 32), CAST(0 AS BIGINT), "
    "(acc, x) -> acc * 2 + IF(x >= 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT)))"
)


def embedding_bitq_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization audit: sign-quantize every 64-dim embedding to
    64 bits (two 32-bit words — BIGINT-safe in both engines; a single
    64-bit fold would wrap Spark's int64 silently while DuckDB errors),
    retrieve top-5 by hamming distance, and score recall@5 against the
    exact cosine top-5 — the measurement behind 32x-compressed vector
    indexes (one bit per dim; hamming is two XOR+popcounts per
    candidate instead of 64 multiply-adds).  ham_radius is the hamming
    distance of the 5th binary neighbor — the re-ranking window a
    production two-stage retriever would rescan with full vectors.

    Same broadcast-20-query-panel scan as the exact baseline; all
    distances integer, so the two legs agree across engines exactly."""
    emb = _emb(spark, sf_dir)
    bq = emb.select(
        "vec_id",
        F.expr(_BITQ_HI).alias("hi"),
        F.expr(_BITQ_LO).alias("lo"),
    )
    panel = bq.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("hi").alias("q_hi"),
        F.col("lo").alias("q_lo"),
    )
    ham = (
        bq.crossJoin(F.broadcast(panel))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr("bit_count(hi ^ q_hi) + bit_count(lo ^ q_lo)")
            .cast("long")
            .alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    ham5 = ham.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 5
    )
    exact5 = cosine_topk(
        emb, emb.filter(F.col("vec_id") < 20), k=5, dim=EMB_DIM
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        ham5.join(exact5, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.max("hamming").cast("long").alias("ham_radius"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("overlap"),
        )
        .withColumn(
            "recall_bp", F.expr("overlap * 10000 div 5").cast("long")
        )
    )


def _bitq_sql() -> str:
    word = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(embedding[{lo}:{hi}], "
        "x -> CASE WHEN x >= 0 THEN CAST(1 AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)), (acc, b) -> acc * 2 + b)"
    )
    cos = _cos_sql("qv", "cv", EMB_DIM)
    return rf"""
WITH b AS (
    SELECT vec_id, {word.format(lo=1, hi=32)} AS hi,
           {word.format(lo=33, hi=64)} AS lo
    FROM embeddings
),
qb AS (SELECT vec_id AS query_id, hi AS q_hi, lo AS q_lo
       FROM b WHERE vec_id < 20),
h AS (
    SELECT query_id, b.vec_id AS neighbor_id,
           bit_count(xor(hi, q_hi)) + bit_count(xor(lo, q_lo)) AS hamming
    FROM b CROSS JOIN qb WHERE b.vec_id <> query_id
),
hr AS (
    SELECT query_id, neighbor_id, hamming,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY hamming ASC, neighbor_id ASC) AS rank
    FROM h
),
h5 AS (SELECT * FROM hr WHERE rank <= 5),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
fs AS (
    SELECT query_id, neighbor_id, ROUND({cos}, 4) AS sim
    FROM c CROSS JOIN q WHERE neighbor_id <> query_id
),
fr AS (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM fs
),
f5 AS (SELECT query_id, neighbor_id FROM fr WHERE rank <= 5)
SELECT h5.query_id,
       CAST(MAX(h5.hamming) AS BIGINT) AS ham_radius,
       CAST(COUNT(f5.neighbor_id) AS BIGINT) AS overlap,
       CAST(COUNT(f5.neighbor_id) * 10000 // 5 AS BIGINT) AS recall_bp
FROM h5 LEFT JOIN f5
  ON h5.query_id = f5.query_id AND h5.neighbor_id = f5.neighbor_id
GROUP BY 1
"""


QUERIES["embedding_bitq_hamming_recall"] = embedding_bitq_hamming_recall
ORACLES["embedding_bitq_hamming_recall"] = _bitq_sql()


# ---------------------------------------------------------------------------
# nDCG ranking-quality audit of the ANN path.
# ---------------------------------------------------------------------------

# Fixed-point DCG discounts: floor(1e6 / log2(rank+1)), computed ONCE here
# and folded into BOTH dialects as integer literals — runtime arithmetic is
# pure int64, so the audit is engine-exact (no float log at query time).
_NDCG_W = {1: 1_000_000, 2: 630_929, 3: 500_000, 4: 430_676, 5: 386_852}
# ideal DCG: exact top-5 gains (5,4,3,2,1) in perfect order — a constant
_NDCG_IDCG_FP = sum((6 - r) * w for r, w in _NDCG_W.items())  # 10_271_920


def retrieval_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@5 of the LSH ANN ranking (embedding_lsh_ann's exact parameter
    point) against graded relevance from the exact cosine top-5
    (gain = 6 - exact_rank, 0 for non-top-5) — the ranking-quality
    complement to embedding_ann_recall: recall@k treats a hit at rank 1
    and rank 5 identically, nDCG pays position.  dcg_fp is the
    1e6-fixed-point discounted gain; ndcg_bp divides by the constant
    ideal (gains 5..1 in perfect order).  Queries where LSH produced no
    candidate at all drop out identically in both engines (the candidate
    sets are bit-identical — same md5-seeded hyperplanes)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    ann = lsh_bucket_topk(
        emb, queries, dim=EMB_DIM, k=5,
        n_planes=_ANN_PLANES, n_tables=_ANN_TABLES,
    ).select("query_id", "neighbor_id", "rank")
    exact = cosine_topk(emb, queries, k=5, dim=EMB_DIM).select(
        "query_id",
        "neighbor_id",
        (F.lit(6) - F.col("rank")).cast("long").alias("gain"),
    )
    w_expr = "CASE rank " + " ".join(
        f"WHEN {r} THEN {w}L" for r, w in _NDCG_W.items()
    ) + " END"
    return (
        ann.join(exact, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            (F.coalesce(F.col("gain"), F.lit(0)) * F.expr(w_expr)).alias(
                "dg"
            ),
        )
        .groupBy("query_id")
        .agg(F.sum("dg").cast("long").alias("dcg_fp"))
        .withColumn(
            "ndcg_bp",
            F.expr(f"dcg_fp * 10000 div {_NDCG_IDCG_FP}").cast("long"),
        )
    )


def _ndcg_sql() -> str:
    cos = _cos_sql("qv", "cv", EMB_DIM)
    w_sql = "CASE a.rank " + " ".join(
        f"WHEN {r} THEN {w}" for r, w in _NDCG_W.items()
    ) + " END"
    return rf"""
WITH ann AS (
    {_lsh_ann_sql()}
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
fs AS (
    SELECT query_id, neighbor_id, ROUND({cos}, 4) AS sim
    FROM c CROSS JOIN q WHERE neighbor_id <> query_id
),
fr AS (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM fs
),
ex AS (SELECT query_id, neighbor_id, 6 - rank AS gain FROM fr
       WHERE rank <= 5),
dg AS (
    SELECT a.query_id,
           COALESCE(ex.gain, 0) * {w_sql} AS dg
    FROM ann a LEFT JOIN ex
      ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
)
SELECT query_id,
       CAST(SUM(dg) AS BIGINT) AS dcg_fp,
       CAST(SUM(dg) * 10000 // {_NDCG_IDCG_FP} AS BIGINT) AS ndcg_bp
FROM dg GROUP BY 1
"""


QUERIES["retrieval_ndcg_audit"] = retrieval_ndcg_audit
ORACLES["retrieval_ndcg_audit"] = _ndcg_sql()


# ---------------------------------------------------------------------------
# Trigram inverted-index LIKE-acceleration audit (pg_trgm-style).
# ---------------------------------------------------------------------------

_TRGM_PATTERNS = ("table key", "fast merge", "scan slow", "spark a")


def _trgm_set(pattern: str) -> list[str]:
    return sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})


def text_trigram_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pg_trgm-style substring-search acceleration, audited: build a
    trigram inverted index over the corpus (distinct (doc_id, trigram) —
    the one-explode, embarrassingly-parallel index build), answer each
    LIKE '%pattern%' by intersecting the pattern's trigram postings
    (HAVING count = |pattern trigrams|), and measure what the index
    buys: candidate count vs true count, candidate precision, and
    n_missed — which MUST be 0 (trigram containment is a necessary
    condition; the column is the lossless-prefilter proof, not an
    estimate).  At 100 TB this is the difference between a full-corpus
    LIKE scan per search and one bounded postings join: the pattern
    trigram table is a CONSTANT literal relation (broadcast-safe by
    construction), and only candidate doc ids cross the shuffle.

    Patterns and their trigram sets fold in at plan time (computed once
    in Python, emitted as literals in BOTH dialects)."""
    docs = _docs(spark, sf_dir)
    # fan out before the char-level explode: a single-file corpus arrives
    # as ONE partition and the index build is compute-bound (the
    # shingles() discipline)
    fanned = fan_out(docs)
    postings = fanned.select(
        "doc_id",
        F.explode(
            F.when(
                F.length("text") >= 3,
                F.expr(
                    "transform(sequence(1, length(text) - 2),"
                    " i -> substring(text, i, 3))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("tri"),
    ).distinct()
    pat_rows = [
        (p, t, len(_trgm_set(p)))
        for p in _TRGM_PATTERNS
        for t in _trgm_set(p)
    ]
    pats = spark.createDataFrame(
        pat_rows, "pattern STRING, tri STRING, n_tri INT"
    )
    cand = (
        postings.join(F.broadcast(pats), "tri")
        .groupBy("pattern", "doc_id", "n_tri")
        .agg(F.count(F.lit(1)).alias("hit"))
        .filter(F.col("hit") == F.col("n_tri"))
        .select("pattern", "doc_id")
    )
    pat_lits = F.array(*[F.lit(p) for p in _TRGM_PATTERNS])
    truth = (
        docs.select("doc_id", "text", F.explode(pat_lits).alias("pattern"))
        .filter(F.expr("instr(text, pattern) > 0"))
        .select("pattern", "doc_id")
    )
    n_cand = cand.groupBy("pattern").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    n_true = truth.groupBy("pattern").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    missed = (
        truth.join(cand, ["pattern", "doc_id"], "left_anti")
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    return (
        n_cand.join(n_true, "pattern", "left")
        .join(missed, "pattern", "left")
        .select(
            "pattern",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            "n_candidates",
            F.coalesce("m", F.lit(0)).cast("long").alias("n_missed"),
            F.expr(
                "(coalesce(n_true, 0) - coalesce(m, 0)) * 10000"
                " div n_candidates"
            )
            .cast("long")
            .alias("precision_bp"),
        )
    )


def _trgm_sql() -> str:
    pat_vals = ", ".join(
        f"('{p}', '{t}', {len(_trgm_set(p))})"
        for p in _TRGM_PATTERNS
        for t in _trgm_set(p)
    )
    pat_list = ", ".join(f"'{p}'" for p in _TRGM_PATTERNS)
    return rf"""
WITH postings AS (
    SELECT DISTINCT doc_id, tri FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(length(text) - 1, 1)),
                                     i -> substr(text, i, 3))) AS tri
        FROM documents
    )
),
pats(pattern, tri, n_tri) AS (VALUES {pat_vals}),
cand AS (
    SELECT pattern, doc_id
    FROM postings JOIN pats USING (tri)
    GROUP BY pattern, doc_id, n_tri
    HAVING COUNT(*) = n_tri
),
truth AS (
    SELECT p.pattern, d.doc_id
    FROM documents d CROSS JOIN (SELECT unnest([{pat_list}]) AS pattern) p
    WHERE instr(d.text, p.pattern) > 0
),
nc AS (SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n_candidates
       FROM cand GROUP BY 1),
nt AS (SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n_true
       FROM truth GROUP BY 1),
ms AS (
    SELECT t.pattern, CAST(COUNT(*) AS BIGINT) AS m
    FROM truth t LEFT JOIN cand c
      ON t.pattern = c.pattern AND t.doc_id = c.doc_id
    WHERE c.doc_id IS NULL
    GROUP BY 1
)
SELECT nc.pattern,
       CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
       n_candidates,
       CAST(COALESCE(m, 0) AS BIGINT) AS n_missed,
       CAST((COALESCE(n_true, 0) - COALESCE(m, 0)) * 10000 // n_candidates
            AS BIGINT) AS precision_bp
FROM nc LEFT JOIN nt USING (pattern) LEFT JOIN ms USING (pattern)
"""


QUERIES["text_trigram_index_audit"] = text_trigram_index_audit
ORACLES["text_trigram_index_audit"] = _trgm_sql()


# ---------------------------------------------------------------------------
# Nearest-centroid mislabel audit (Confident-Learning style).
# ---------------------------------------------------------------------------

_CM_Q = 10_000       # component quantization: q = floor(x * 1e4)
_CM_SHIFT = 1_024    # down-shift of (q*c - S) before squaring (int64 headroom)


def embedding_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit (the nearest-centroid core of Confident
    Learning, Northcutt et al.): assign every vector to its nearest
    LABEL CENTROID and report the own-label -> nearest-centroid
    confusion counts — off-diagonal cells are the mislabel candidates a
    data-curation pass re-reviews.

    Engine-exact by construction: components quantize per row
    (floor(x*1e4)); centroids stay RATIONAL (S_l,d, c_l) — never a float
    mean, whose partition-order summation diverges across engines;
    distance compares use c_l-cross-multiplied integers with one
    documented down-shift (>>10) for int64 headroom and a fixed-
    denominator key (num*1e4 div c_l**2, trunc-div identical in both
    engines), label-asc tiebreak.  The quantized argmin is a DEFINED
    deterministic statistic, not an approximation of a float one.

    Scale: one posexplode pass (|corpus|*dim rows), the 512-row
    (label, dim) stats relation is bounded by construction (broadcast
    constant), and the candidate relation carries ids and int64 terms
    only."""
    emb = _emb(spark, sf_dir)
    qv = emb.select(
        "vec_id",
        F.col("label").alias("own_label"),
        F.posexplode("embedding").alias("d", "x"),
    ).select(
        "vec_id",
        "own_label",
        "d",
        F.expr(
            "CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0D) AS BIGINT)"
        ).alias("q"),
    )
    stats = (
        qv.groupBy(F.col("own_label").alias("l"), "d")
        .agg(
            F.sum("q").alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    terms = (
        qv.join(F.broadcast(stats), "d")
        .select(
            "vec_id",
            "own_label",
            "l",
            "c",
            F.expr(
                f"((q * c - s) - ((q * c - s) % {_CM_SHIFT}))"
                f" div {_CM_SHIFT}"
            ).alias("ts"),
        )
        .select(
            "vec_id",
            "own_label",
            "l",
            "c",
            # exact int64 self-multiply, never pow()'s double round-trip
            F.expr("ts * ts").alias("t2"),
        )
    )
    dist = terms.groupBy("vec_id", "own_label", "l", "c").agg(
        F.sum("t2").alias("num")
    )
    keyed = dist.select(
        "vec_id",
        "own_label",
        F.struct(
            F.expr("num * 10000 div (c * c)").alias("key"),
            F.col("l").alias("lbl"),
        ).alias("cand"),
    )
    nearest = keyed.groupBy("vec_id", "own_label").agg(
        F.min("cand").alias("best")
    )
    return (
        nearest.groupBy(
            F.col("own_label").cast("long").alias("own_label"),
            F.col("best.lbl").cast("long").alias("nearest_label"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )


_CM_SQL = rf"""
WITH qv AS (
    SELECT vec_id, label AS own_label, d,
           CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * 10000.0) AS BIGINT) AS q
    FROM embeddings, (SELECT unnest(range(1, 65)) AS d)
),
stats AS (
    SELECT own_label AS l, d, SUM(q) AS s, COUNT(*) AS c
    FROM qv GROUP BY 1, 2
),
shifted AS (
    SELECT vec_id, own_label, l, c,
           ((q * c - s) - ((q * c - s) % {_CM_SHIFT})) // {_CM_SHIFT} AS ts
    FROM qv JOIN stats USING (d)
),
terms AS (
    SELECT vec_id, own_label, l, c, ts * ts AS t2 FROM shifted
),
dist AS (
    SELECT vec_id, own_label, l, c, SUM(t2) AS num
    FROM terms GROUP BY 1, 2, 3, 4
),
keyed AS (
    SELECT vec_id, own_label, l,
           num * 10000 // (c * c) AS key
    FROM dist
),
nearest AS (
    SELECT vec_id, own_label, l AS nearest_label
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY key ASC, l ASC) AS rn
        FROM keyed
    ) WHERE rn = 1
)
SELECT CAST(own_label AS BIGINT) AS own_label,
       CAST(nearest_label AS BIGINT) AS nearest_label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM nearest GROUP BY 1, 2
"""

QUERIES["embedding_label_confusion"] = embedding_label_confusion
ORACLES["embedding_label_confusion"] = _CM_SQL


# ---------------------------------------------------------------------------
# IVF nprobe recall sweep.
# ---------------------------------------------------------------------------

_NPROBE_SWEEP = (1, 2, 4)


def embedding_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe knob, measured: recall@5 of the IVF index at
    nprobe = 1 / 2 / 4 against nprobe = 8 — which probes ALL k = 8
    inverted lists and is therefore the EXACT exhaustive search by
    construction (same codebook, same integer-L2 metric, no separate
    baseline needed).  This is the capacity-planning curve an ANN
    deployment reads to pick its latency/recall point; the registered
    embedding_ivf_ann pins nprobe = 2, this query shows what that
    choice buys and costs.  The codebook trains ONCE (shared cache);
    each sweep point re-probes, never re-trains.  Everything —
    training, assignment, probing, rerank, recall arithmetic — is
    replayed by the DuckDB oracle bit-for-bit."""
    from ..operators.ivf import _sq_dist_lit, ivf_assign, quantize, sq_dist

    emb = _emb(spark, sf_dir)
    centroids = _shared_ivf_centroids(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    nq = queries.count()  # fixed panel, 1-int scalar
    # ONE corpus assignment + ONE scoring join serve every sweep point:
    # the candidate set at depth np is exactly the depth-8 candidate set
    # filtered to probe_rank <= np (the probe ORDER per query is fixed
    # by the codebook), so re-running assignment per leg (the first cut,
    # 6.2 s in-sweep) is pure waste — probe ranks ride along via
    # posexplode and each leg is a filter + rank window over the pinned
    # candidate table.
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        quantize(F.col("embedding")).alias("qv"),
    )
    probe_arr = F.array_sort(
        F.array(
            *[
                F.struct(
                    _sq_dist_lit(F.col("qv"), c).alias("d"),
                    F.lit(cid).cast("long").alias("cid"),
                )
                for cid, c in enumerate(centroids)
            ]
        )
    )
    probes = q.select(
        "query_id",
        "qv",
        F.posexplode(F.transform(probe_arr, lambda s: s["cid"])).alias(
            "probe_idx", "cluster"
        ),
    ).withColumn("probe_rank", (F.col("probe_idx") + 1).cast("long"))
    inv = ivf_assign(emb, centroids)
    # four legs read it
    scored = pin(
        inv.join(F.broadcast(probes), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "probe_rank",
            sq_dist(F.col("qv"), F.col("cv")).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    full = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    legs = None
    for np_ in _NPROBE_SWEEP:
        leg = (
            scored.filter(F.col("probe_rank") <= np_)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select(
                F.lit(np_).cast("long").alias("nprobe"),
                "query_id",
                "neighbor_id",
            )
        )
        legs = leg if legs is None else legs.unionByName(leg)
    hits = (
        legs.join(full, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    return hits.select(
        "nprobe",
        "hits",
        F.expr(f"hits * 10000 div {nq * 5}").cast("long").alias("recall_bp"),
    )


def _nprobe_sweep_sql() -> str:
    from ..operators.ivf import ivf_oracle_sql

    def leg(np_: int) -> str:
        return ivf_oracle_sql(k=8, iters=2, dim=EMB_DIM, topk=5, nprobe=np_)

    union = "\nUNION ALL\n".join(
        f"SELECT CAST({np_} AS BIGINT) AS nprobe, query_id, neighbor_id"
        f" FROM (\n{leg(np_)}\n)"
        for np_ in _NPROBE_SWEEP
    )
    return rf"""
WITH full_ivf AS (
    SELECT query_id, neighbor_id FROM (
{leg(8)}
    )
),
legs AS (
{union}
),
nq AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 20),
hits AS (
    SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS hits
    FROM legs SEMI JOIN full_ivf USING (query_id, neighbor_id)
    GROUP BY 1
)
SELECT nprobe, hits,
       CAST(hits * 10000 // ((SELECT n FROM nq) * 5) AS BIGINT)
           AS recall_bp
FROM hits
"""


QUERIES["embedding_ivf_nprobe_sweep"] = embedding_ivf_nprobe_sweep
ORACLES["embedding_ivf_nprobe_sweep"] = _nprobe_sweep_sql()


# ---------------------------------------------------------------------------
# Out-of-distribution outlier scoring against the IVF codebook.
# ---------------------------------------------------------------------------

_OOD_TOPK = 20


def embedding_ood_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOD screening for training-data curation: every vector scored by
    its integer squared-L2 distance to the NEAREST IVF centroid (the
    codebook the ANN path already trains — an OOD pass reuses it for
    free), top-20 most-distant vectors reported with their assigned
    cluster and label.  The standard 'drop the samples no cluster wants'
    filter before contrastive/classifier training; also the place
    mislabeled or corrupted embeddings surface first (cf.
    embedding_label_confusion, which audits labels — this audits the
    DISTRIBUTION).

    One narrow pass: the 8 centroids fold in as literals (no join), the
    distance array is int64-exact, and the top-20 cut is
    TakeOrderedAndProject on (dist desc, vec_id asc)."""
    from ..operators.ivf import _sq_dist_lit, quantize

    emb = _emb(spark, sf_dir)
    centroids = _shared_ivf_centroids(spark, sf_dir)
    qv = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        quantize(F.col("embedding")).alias("v"),
    )
    dists = F.array(*[_sq_dist_lit(F.col("v"), c) for c in centroids])
    scored = qv.select(
        "vec_id",
        "label",
        dists.alias("ds"),
    ).select(
        "vec_id",
        "label",
        (F.array_position(F.col("ds"), F.array_min(F.col("ds"))) - 1)
        .cast("long")
        .alias("cluster"),
        F.array_min(F.col("ds")).cast("long").alias("min_sqdist"),
    )
    return scored.orderBy(
        F.col("min_sqdist").desc(), F.col("vec_id").asc()
    ).limit(_OOD_TOPK)


def _ood_sql() -> str:
    from ..operators.ivf import _oracle_dist, ivf_cte_body

    dist = _oracle_dist(EMB_DIM)
    body, final_c = ivf_cte_body(k=8, iters=2, dim=EMB_DIM)
    return rf"""
WITH {body},
md AS (
    SELECT q.vec_id, c.cid, {dist('q.v', 'c.v')} AS d,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist('q.v', 'c.v')}, c.cid) AS rn
    FROM qv q CROSS JOIN {final_c} c
)
SELECT m.vec_id, CAST(e.label AS BIGINT) AS label,
       CAST(m.cid AS BIGINT) AS cluster,
       CAST(m.d AS BIGINT) AS min_sqdist
FROM md m JOIN embeddings e ON m.vec_id = e.vec_id
WHERE m.rn = 1
ORDER BY m.d DESC, m.vec_id ASC
LIMIT {_OOD_TOPK}
"""


QUERIES["embedding_ood_outliers"] = embedding_ood_outliers
ORACLES["embedding_ood_outliers"] = _ood_sql()


# ---------------------------------------------------------------------------
# Classifier calibration table (reliability diagram).
# ---------------------------------------------------------------------------

_CAL_BIN = 1_000_000
_CAL_CLAMP = 9_999_999


def corpus_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the hashed-linear quality classifier:
    fixed-width score bins (clamped, width 1e6 in score_fp units) vs the
    observed positive rate (lang = 'en', the corpus_classifier_auc
    truth) — AUC says the model RANKS well; calibration says whether the
    scores can be read as probabilities/thresholds, which is what a
    curation pipeline actually does with them.  Fixed bins, not ntile:
    quantile bins would need a global sort and make bin membership
    depend on the corpus — fixed-width bins are scale-clean and
    engine-total (clamp + shift keeps the bin arithmetic nonnegative,
    so trunc-div == floor-div in both engines)."""
    from ..operators.importance import linear_quality_scores

    docs = _docs(spark, sf_dir)
    scored = linear_quality_scores(docs).select(
        "doc_id",
        F.expr("score_sum * 10000 div n_tokens").alias("score_fp"),
    )
    j = scored.join(
        docs.select("doc_id", (F.col("lang") == "en").alias("pos")),
        "doc_id",
    ).select(
        F.expr(
            f"(least(greatest(score_fp, {-_CAL_CLAMP}), {_CAL_CLAMP})"
            f" + {_CAL_CLAMP + 1}) div {_CAL_BIN}"
        )
        .cast("long")
        .alias("bin"),
        "score_fp",
        "pos",
    )
    return (
        j.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("pos"), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum("score_fp").alias("score_sum"),
        )
        .select(
            "bin",
            F.expr(f"(bin - 10) * {_CAL_BIN}").cast("long").alias("bin_lo"),
            "n_docs",
            "n_pos",
            F.expr("n_pos * 10000 div n_docs").cast("long").alias("pos_rate_bp"),
            F.expr("score_sum div n_docs").cast("long").alias("avg_score_fp"),
        )
    )


def _calibration_sql() -> str:
    from ..operators.importance import LINEAR_QUALITY_SQL

    return rf"""
WITH lq AS ({LINEAR_QUALITY_SQL}),
j AS (
    SELECT (least(greatest(lq.score_sum * 10000 // lq.n_tokens,
                           {-_CAL_CLAMP}), {_CAL_CLAMP})
            + {_CAL_CLAMP + 1}) // {_CAL_BIN} AS bin,
           lq.score_sum * 10000 // lq.n_tokens AS score_fp,
           d.lang = 'en' AS pos
    FROM documents d JOIN lq ON d.doc_id = lq.doc_id
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST((bin - 10) * {_CAL_BIN} AS BIGINT) AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS pos_rate_bp,
       CAST(SUM(score_fp) // COUNT(*) AS BIGINT) AS avg_score_fp
FROM j GROUP BY bin
"""


QUERIES["corpus_classifier_calibration"] = corpus_classifier_calibration
ORACLES["corpus_classifier_calibration"] = _calibration_sql()


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random-projection distortion audit.
# ---------------------------------------------------------------------------

_RP_DIM_IN = 64
_RP_DIM_OUT = 16


def _rp_signs() -> list[list[int]]:
    """±1 projection matrix from md5 parity — deterministic, seedless,
    identical in both dialects because it is generated HERE and embedded
    as unrolled literal arithmetic (never evaluated by either engine)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest(), 16) & 1 else -1
            for i in range(_RP_DIM_IN)
        ]
        for j in range(_RP_DIM_OUT)
    ]


def _rp_proj_terms(elem: str) -> list[str]:
    """One unrolled ``s1*codes[1] + ...`` expression per output dim;
    ``elem`` is a format string turning a 1-based index into an element
    access (``element_at(codes, {i})`` in Spark, ``codes[{i}]`` duck)."""
    return [
        " + ".join(
            f"({s} * {elem.format(i=i + 1)})" for i, s in enumerate(row)
        )
        for row in _rp_signs()
    ]


def embedding_random_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss distortion measurement for a ±1 random
    projection 64 -> 16: quantize each embedding to int8 codes
    (operators/quantize.py — engine-exact), project with a fixed md5-sign
    matrix, and for consecutive-id vector pairs compare projected vs
    original squared distance: ``ratio_bp = d2_proj * 1e4 div (16 *
    d2_orig)`` (E[ratio] = 1e4 under JL; spread ~ sqrt(2/16)).  Emits the
    distortion histogram ``(ratio_bin, n_pairs, min_ratio_bp,
    max_ratio_bp)`` — the measured guarantee behind shipping 4x-smaller
    vectors into every downstream shuffle.

    Scale shape: projection is per-row unrolled integer arithmetic (zero
    shuffle, codegen-fused); the pair join is an equi-join on vec_id+1
    (co-partitioned); output is a <=10-row histogram.  All arithmetic
    int64 with proven headroom (|proj| <= 64*127, d2_proj*1e4 <= 4.2e13).
    """
    from ..operators.quantize import quantize_int8

    emb = _emb(spark, sf_dir)
    q = quantize_int8(emb, "embedding", "vec_id")
    proj = [
        F.expr(t).cast("long").alias(f"p{j}")
        for j, t in enumerate(_rp_proj_terms("element_at(codes, {i})"))
    ]
    # the projected table feeds BOTH sides of the consecutive-id join:
    # checkpoint once or the scan+quantize+project chain runs twice
    pv = pin(q.select("vec_id", "codes", *proj))
    a = pv.alias("a")
    b = pv.alias("b")
    d2_orig = " + ".join(
        f"(element_at(a.codes, {i}) - element_at(b.codes, {i}))"
        f" * (element_at(a.codes, {i}) - element_at(b.codes, {i}))"
        for i in range(1, _RP_DIM_IN + 1)
    )
    d2_proj = " + ".join(
        f"(a.p{j} - b.p{j}) * (a.p{j} - b.p{j})" for j in range(_RP_DIM_OUT)
    )
    pairs = (
        a.join(b, F.expr("a.vec_id + 1 = b.vec_id"))
        .select(
            F.expr(d2_orig).cast("long").alias("d2_orig"),
            F.expr(d2_proj).cast("long").alias("d2_proj"),
        )
        .where(F.col("d2_orig") > 0)
        .select(
            F.expr(f"d2_proj * 10000 div ({_RP_DIM_OUT} * d2_orig)").alias(
                "ratio_bp"
            )
        )
    )
    return pairs.groupBy(
        F.expr("least(ratio_bp div 2000, 9)").cast("long").alias("ratio_bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("ratio_bp").cast("long").alias("min_ratio_bp"),
        F.max("ratio_bp").cast("long").alias("max_ratio_bp"),
    )


def _rp_audit_sql() -> str:
    proj_terms = _rp_proj_terms("codes[{i}]")
    proj_cols = ",\n           ".join(
        f"CAST({t} AS BIGINT) AS p{j}" for j, t in enumerate(proj_terms)
    )
    d2_orig = " + ".join(
        f"(a.codes[{i}] - b.codes[{i}]) * (a.codes[{i}] - b.codes[{i}])"
        for i in range(1, _RP_DIM_IN + 1)
    )
    d2_proj = " + ".join(
        f"(a.p{j} - b.p{j}) * (a.p{j} - b.p{j})" for j in range(_RP_DIM_OUT)
    )
    return f"""
WITH sc AS (
    SELECT vec_id,
           list_aggregate(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE))), 'max') AS scale
    FROM embeddings
),
c AS (
    SELECT e.vec_id,
           list_transform(e.embedding, x ->
               CAST((CASE WHEN CAST(x AS DOUBLE) > 0 THEN 1
                          WHEN CAST(x AS DOUBLE) < 0 THEN -1
                          ELSE 0 END)
                    * floor(abs(CAST(x AS DOUBLE)) * 127.0
                            / (CASE WHEN sc.scale > 0 THEN sc.scale
                                    ELSE 1.0 END) + 0.5) AS BIGINT)) AS codes
    FROM embeddings e JOIN sc USING (vec_id)
),
pv AS (
    SELECT vec_id, codes,
           {proj_cols}
    FROM c
),
pairs AS (
    SELECT CAST({d2_orig} AS BIGINT) AS d2_orig,
           CAST({d2_proj} AS BIGINT) AS d2_proj
    FROM pv a JOIN pv b ON a.vec_id + 1 = b.vec_id
),
r AS (
    SELECT d2_proj * 10000 // ({_RP_DIM_OUT} * d2_orig) AS ratio_bp
    FROM pairs WHERE d2_orig > 0
)
SELECT CAST(least(ratio_bp // 2000, 9) AS BIGINT) AS ratio_bin,
       COUNT(*)::BIGINT AS n_pairs,
       CAST(MIN(ratio_bp) AS BIGINT) AS min_ratio_bp,
       CAST(MAX(ratio_bp) AS BIGINT) AS max_ratio_bp
FROM r GROUP BY 1
"""


QUERIES["embedding_random_projection_audit"] = embedding_random_projection_audit
ORACLES["embedding_random_projection_audit"] = _rp_audit_sql()


# ---------------------------------------------------------------------------
# Cross-source duplicate-flow matrix.
# ---------------------------------------------------------------------------

def dedup_source_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where do near-duplicates COME FROM: the MinHash-LSH candidate
    pairs rolled up to an unordered source-pair matrix ``(source_a,
    source_b, n_pairs, cross_source)``.  A diagonal-heavy matrix means
    within-crawl boilerplate (fix the extractor); heavy off-diagonal
    cells mean one source is mirroring another (dedup cross-source
    BEFORE mixing weights, or the mirrored corpus is double-counted).
    The curation view behind dedup_cross_lingual's language variant.

    Scale shape: inherits the banded LSH pair generation (never
    all-pairs); the two source lookups are equi-joins on doc_id against
    a 2-column projection; output is <= |sources|² rows."""
    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, num_perm=16, bands=4)
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")),
            "id_a",
        ).join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")),
            "id_b",
        )
    )
    return (
        j.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn("cross_source", F.col("source_a") != F.col("source_b"))
    )


_SOURCE_FLOW_SQL = f"""
WITH {_minhash_kv_cte(16, 4)},
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM kv a JOIN kv b
      ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
),
j AS (
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b
    FROM pairs
    JOIN documents da ON pairs.id_a = da.doc_id
    JOIN documents db ON pairs.id_b = db.doc_id
)
SELECT source_a, source_b, COUNT(*)::BIGINT AS n_pairs,
       source_a <> source_b AS cross_source
FROM j GROUP BY 1, 2
"""

QUERIES["dedup_source_flow_matrix"] = dedup_source_flow_matrix
ORACLES["dedup_source_flow_matrix"] = _SOURCE_FLOW_SQL


# ---------------------------------------------------------------------------
# TextRank keywords: PageRank over the word co-occurrence graph.
# ---------------------------------------------------------------------------

_TEXTRANK_ITERATIONS = 5


def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keywords by TextRank (Mihalcea & Tarau 2004): PageRank over
    the undirected word co-occurrence graph — nodes are words, an edge
    links words that appear ADJACENT anywhere in the corpus (window 1,
    distinct pairs, self-pairs dropped).  Frequency-based rankings
    (text_tfidf_top_terms, text_top_bigrams) score words in isolation;
    TextRank scores by graph centrality, surfacing connector words that
    co-occur with many distinct high-scoring neighbors.

    Pure composition of existing engine pieces: operators/text.bigrams
    (codegen array expr, O(len) per doc) builds pairs, operators/graph.
    pagerank (int64 fixed-point, co-partitioned cached edges, pinned
    generations) ranks them, and the oracle replays the identical
    fixed-point arithmetic via pagerank_oracle_cte — the DuckDB CTE and
    the Spark loop agree bit-for-bit, so rank_fp is value-hashed, not
    tolerance-compared.  Edge count is O(vocab²) worst case but
    vocab-bounded, never corpus-bounded: the distinct() collapses the
    100 TB token stream to the adjacency structure before PageRank runs.
    Symmetrization guarantees out-degree >= 1 (no dangling mass)."""
    from ..operators import graph as gr
    from ..operators.text import bigrams

    docs = _docs(spark, sf_dir)
    bg = docs.select(F.explode(bigrams(F.col("text"))).alias("bg"))
    sp = F.split(F.col("bg"), " ")
    und = (
        bg.select(
            F.element_at(sp, 1).alias("w1"), F.element_at(sp, 2).alias("w2")
        )
        .filter((F.col("w1") != F.col("w2")) & (F.col("w1") != "") & (F.col("w2") != ""))
        .select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .distinct()
    )
    # one-pass symmetrization (explode, not union): the union form ran the
    # bigram distinct subtree once per direction (graph.symmetrize_edges)
    edges = gr.symmetrize_edges(und, "a", "b")
    ranks = gr.pagerank(edges, _TEXTRANK_ITERATIONS)
    w = Window.orderBy(F.col("rank_fp").desc(), F.col("word").asc())
    # global rank window over the VOCABULARY-sized rank table (31 rows
    # here; bounded by |vocab|, never the corpus) — corpus_mix_report
    # precedent
    return ranks.select(
        F.col("node").alias("word"), "rank_fp"
    ).withColumn("kw_rank", F.row_number().over(w).cast("long"))


_TEXTRANK_EDGES_SQL = r"""
WITH ws AS (SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
adj AS (
    SELECT unnest(list_transform(range(1, greatest(len(w), 1)),
                                 i -> struct_pack(x := w[i], y := w[i+1]))) AS p
    FROM ws
),
und AS (
    SELECT DISTINCT LEAST(p.x, p.y) AS a, GREATEST(p.x, p.y) AS b
    FROM adj
    WHERE p.y IS NOT NULL AND p.x <> p.y AND p.x <> '' AND p.y <> ''
)
SELECT a AS src, b AS dst FROM und
UNION ALL
SELECT b AS src, a AS dst FROM und
"""


def _textrank_sql() -> str:
    from ..operators import graph as gr

    return (
        "WITH "
        + gr.pagerank_oracle_cte(_TEXTRANK_EDGES_SQL, _TEXTRANK_ITERATIONS)
        + f""",
final AS (
  SELECT node AS word, rank_fp,
         ROW_NUMBER() OVER (ORDER BY rank_fp DESC, node ASC) AS kw_rank
  FROM r{_TEXTRANK_ITERATIONS}
)
SELECT word, rank_fp, CAST(kw_rank AS BIGINT) AS kw_rank FROM final"""
    )


QUERIES["text_textrank_keywords"] = text_textrank_keywords
ORACLES["text_textrank_keywords"] = _textrank_sql()


# ---------------------------------------------------------------------------
# pHash: DCT-domain perceptual image hash.
# ---------------------------------------------------------------------------

def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual hashes: wrap 16×12 P6 → nearest resize to 8×8 →
    pHash (operators/multimodal.py::phash_ppm — integer fixed-point
    DCT-II, low 4×4 block, bits vs the lower-median AC coefficient).
    Completes the image near-dup ladder: aHash (pixel vs mean), dHash
    (gradient sign), pHash (spectrum vs median) — the three standard
    perceptual hashes, each a groupBy/join bucketing key, never pairwise
    pixels.  The oracle replays the identical arithmetic: the SAME
    2^10-scaled DCT basis integers are baked into both the pandas UDF
    and the generated SQL (phash_k_terms), so phash/dc_fp value-hash
    exactly."""
    from ..operators.multimodal import phash_ppm, ppm_wrap, resize_ppm_nearest

    wrapped = ppm_wrap(_media(spark, sf_dir), width=_PPM_W, height=_PPM_H)
    return phash_ppm(resize_ppm_nearest(wrapped, 8, 8))


def _ppm_phash_sql() -> str:
    from ..operators.multimodal import PHASH_BLOCK, PHASH_C, phash_k_terms

    ys = [(y * _PPM_H) // 8 for y in range(8)]
    xs = [(x * _PPM_W) // 8 for x in range(8)]

    def byte_at(off: int) -> str:
        return (
            f"CASE WHEN {off} < n_bytes"
            f" THEN ('0x' || substr(h, {2 * off + 1}, 2))::BIGINT ELSE 0 END"
        )

    grays = []
    for y in ys:  # row-major over the resized 8x8, matching phash_ppm
        for x in xs:
            base = (y * _PPM_W + x) * 3
            grays.append(
                f"(({byte_at(base)}) + ({byte_at(base + 1)})"
                f" + ({byte_at(base + 2)})) // 3"
            )
    gs = ",\n        ".join(grays)

    def dot(ks: list[int]) -> str:
        return " + ".join(
            f"{k} * gs[{p + 1}]" for p, k in enumerate(ks) if k != 0
        )

    acs = ",\n        ".join(dot(ks) for ks in phash_k_terms())
    dc = dot([PHASH_C[0][r] * PHASH_C[0][c] for r in range(8) for c in range(8)])
    n_ac = PHASH_BLOCK * PHASH_BLOCK - 1
    med_rank = (n_ac + 1) // 2  # lower median, 1-based into the sorted list
    return f"""
WITH hx AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
), g AS (
    SELECT doc_id, modality,
        [{gs}] AS gs
    FROM hx
), d AS (
    SELECT doc_id, modality,
        [{acs}] AS ac,
        CAST({dc} AS BIGINT) AS dc_fp
    FROM g
), m AS (
    SELECT doc_id, modality, ac, dc_fp,
           list_sort(ac)[{med_rank}] AS med
    FROM d
)
SELECT doc_id AS media_id, modality,
       CAST(list_aggregate(list_transform(range(1, {n_ac + 1}),
            i -> CASE WHEN ac[i] > med THEN 1 << (i - 1) ELSE 0 END),
            'sum') AS BIGINT) AS phash,
       CAST(list_aggregate(list_transform(range(1, {n_ac + 1}),
            i -> CASE WHEN ac[i] > med THEN 1 ELSE 0 END),
            'sum') AS BIGINT) AS n_set,
       dc_fp
FROM m
"""


QUERIES["multimodal_image_phash"] = multimodal_image_phash
ORACLES["multimodal_image_phash"] = _ppm_phash_sql()


# ---------------------------------------------------------------------------
# SimHash near-dup clusters: banded candidates -> hamming verify -> CC.
# 64-bit hash, 16-bit bands — the 100-TB-safe geometry.  The 32-bit /
# 8-bit-band form this name carried through round 7 was RETIRED from the
# registry after the sf1 scale probe measured it at 56.9 s vs 21.7 s for
# this geometry at 10x data (8-bit bands = <=256 keys/band, so the band
# self-join's candidate bill grows quadratically with the corpus; pair
# bill 2.54 M vs 188 k at sf0.1).  The w32 operator survives only inside
# dedup_simhash_band_occupancy, where its quadratic candidate bill is the
# measured quantity (bounded by the audit's aggregation), and in the
# streaming parity test.
# ---------------------------------------------------------------------------

_SIMHASH_CLUSTER_MAX_HAM = 3  # pigeonhole: <= bands-1 flips => >=1 equal band


def dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup clusters at PRODUCTION band width: 64-bit hash as
    two 32-bit BIGINT words, 4 bands x 16 bits (65,536 keys/band — 256x
    the bucket count of the 32-bit form, so band-bucket occupancy is
    O(corpus/65536) instead of O(corpus/256)), hamming verify as the sum
    of two XOR+bit_counts, then the shared min-label connected
    components.  Pigeonhole is unchanged (hamming <= 3 across 4 bands
    leaves >= 1 identical band), so banding stays lossless for the
    threshold while the self-join stops degrading with corpus growth.
    See dedup_simhash_band_occupancy for the measured occupancy contrast
    between the two geometries (this name was the 32-bit form through
    round 7; retired per the sf1 probe, see section comment)."""
    from ..operators.dedup import simhash_clusters_w64

    return simhash_clusters_w64(
        _docs(spark, sf_dir), max_hamming=_SIMHASH_CLUSTER_MAX_HAM
    )


def _simhash_clusters_w64_sql() -> str:
    votes = ",\n           ".join(
        f"SUM(CASE WHEN ({word} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS {word}_v{b}"
        for word in ("hlo", "hhi")
        for b in range(32)
    )

    def fold(word: str) -> str:
        return " + ".join(
            f"CASE WHEN {word}_v{b} >= 0 THEN CAST({1 << b} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END"
            for b in range(32)
        )

    return rf"""
WITH RECURSIVE
w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
h AS (SELECT doc_id,
             ('0x' || substr(md5(w), 1, 8))::BIGINT AS hlo,
             ('0x' || substr(md5(w), 9, 8))::BIGINT AS hhi
      FROM w),
v AS (SELECT doc_id, {votes} FROM h GROUP BY 1),
s AS (SELECT doc_id, {fold("hlo")} AS sh_lo, {fold("hhi")} AS sh_hi FROM v),
bands AS (
    SELECT doc_id, sh_lo, sh_hi, b AS band,
           CASE WHEN b < 2 THEN (sh_lo >> (16 * b)) & 65535
                ELSE (sh_hi >> (16 * (b - 2))) & 65535 END AS key
    FROM s, (SELECT unnest(range(4)) AS b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.sh_lo AS la, a.sh_hi AS ha,
                    b.sh_lo AS lb, b.sh_hi AS hb
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
e0 AS (
    SELECT id_a, id_b FROM cand
    WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb))
          <= {_SIMHASH_CLUSTER_MAX_HAM}
),
bidir AS (SELECT id_a AS s, id_b AS d FROM e0 UNION ALL SELECT id_b, id_a FROM e0),
reach(s, d) AS (
    SELECT s, d FROM bidir
    UNION
    SELECT r.s, e.d FROM reach r JOIN bidir e ON r.d = e.s
),
m AS (SELECT s AS doc_id, MIN(d) AS mn FROM reach GROUP BY 1)
SELECT dd.doc_id,
       LEAST(COALESCE(m.mn, dd.doc_id), dd.doc_id) AS cluster_id
FROM documents dd LEFT JOIN m ON dd.doc_id = m.doc_id
"""


QUERIES["dedup_simhash_clusters"] = dedup_simhash_clusters
ORACLES["dedup_simhash_clusters"] = _simhash_clusters_w64_sql()


# ---------------------------------------------------------------------------
# Band-occupancy audit: w32 vs w64 geometry, measured not asserted.
# ---------------------------------------------------------------------------

def dedup_simhash_band_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucket occupancy for BOTH SimHash geometries, side by side:
    per (geometry, band) — distinct keys used, max bucket size, and the
    exact candidate-pair bill SUM(k*(k-1)/2) the band self-join must pay.
    This is the scale evidence behind dedup_simhash_clusters_w64: the
    32-bit/8-bit-band geometry concentrates the corpus into <= 256
    buckets per band (pair bill grows ~quadratically with corpus), the
    64-bit/16-bit-band geometry spreads the same corpus over 65,536 keys.
    Pure groupBy arithmetic — the only heavy stages are the two shared
    simhash passes."""
    from ..operators.dedup import simhash_signatures

    docs = _docs(spark, sf_dir)
    # ONE fused signature pass for BOTH geometries: simhash_signatures
    # emits all three lanes (the w32 60-bit-hash simhash and the two
    # 32-bit md5 slices) from a single Arrow map over (doc_id, text) —
    # no word explode, no 96-accumulator vote aggregate, no exchange
    # (guide §4.2 + §2.4; the r12 fused-expression form this replaces
    # still paid a corpus-sized shuffle of vote partials and an
    # interpreted-width aggregate).  The 8 (geometry, band, key) rows
    # per doc come from a single explode below — no union, one corpus
    # pass.
    shboth = simhash_signatures(docs)
    band_structs = F.array(
        *[
            F.struct(
                F.lit("w32").alias("geometry"),
                F.lit(b).alias("band"),
                F.expr(f"(simhash >> {8 * b}) & 255").alias("key"),
            )
            for b in range(4)
        ],
        *[
            F.struct(
                F.lit("w64").alias("geometry"),
                F.lit(b).alias("band"),
                F.expr(
                    f"(sh_lo >> {16 * b}) & 65535"
                    if b < 2
                    else f"(sh_hi >> {16 * (b - 2)}) & 65535"
                ).alias("key"),
            )
            for b in range(4)
        ],
    )
    per_key = (
        shboth.select(F.explode(band_structs).alias("bk"))
        .select("bk.geometry", "bk.band", "bk.key")
        .groupBy("geometry", "band", "key")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return (
        per_key.groupBy("geometry", "band")
        .agg(
            F.sum("k").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("k").cast("long").alias("max_bucket"),
            F.sum(F.expr("k * (k - 1)")).cast("long").alias("cand_pairs_x2"),
        )
        .select(
            "geometry",
            F.col("band").cast("long").alias("band"),
            "n_docs",
            "n_keys",
            "max_bucket",
            (F.col("cand_pairs_x2") / 2).cast("long").alias("cand_pairs"),
        )
    )


def _simhash_band_occupancy_sql() -> str:
    votes32 = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(32)
    )
    fold32 = " + ".join(
        f"CASE WHEN v{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(32)
    )
    votes64 = ",\n           ".join(
        f"SUM(CASE WHEN ({word} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS {word}_v{b}"
        for word in ("hlo", "hhi")
        for b in range(32)
    )

    def fold64(word: str) -> str:
        return " + ".join(
            f"CASE WHEN {word}_v{b} >= 0 THEN CAST({1 << b} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END"
            for b in range(32)
        )

    return rf"""
WITH
w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
h32 AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM w),
v32 AS (SELECT doc_id, {votes32} FROM h32 GROUP BY 1),
s32 AS (SELECT doc_id, {fold32} AS simhash FROM v32),
h64 AS (SELECT doc_id,
               ('0x' || substr(md5(w), 1, 8))::BIGINT AS hlo,
               ('0x' || substr(md5(w), 9, 8))::BIGINT AS hhi
        FROM w),
v64 AS (SELECT doc_id, {votes64} FROM h64 GROUP BY 1),
s64 AS (SELECT doc_id, {fold64("hlo")} AS sh_lo, {fold64("hhi")} AS sh_hi FROM v64),
bands AS (
    SELECT 'w32' AS geometry, b AS band, (simhash >> (8 * b)) & 255 AS key
    FROM s32, (SELECT unnest(range(4)) AS b)
    UNION ALL
    SELECT 'w64' AS geometry, b AS band,
           CASE WHEN b < 2 THEN (sh_lo >> (16 * b)) & 65535
                ELSE (sh_hi >> (16 * (b - 2))) & 65535 END AS key
    FROM s64, (SELECT unnest(range(4)) AS b)
),
per_key AS (
    SELECT geometry, band, key, COUNT(*) AS k
    FROM bands GROUP BY 1, 2, 3
)
SELECT geometry,
       CAST(band AS BIGINT) AS band,
       CAST(SUM(k) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(k) AS BIGINT) AS max_bucket,
       CAST(SUM(k * (k - 1)) / 2 AS BIGINT) AS cand_pairs
FROM per_key
GROUP BY 1, 2
"""


QUERIES["dedup_simhash_band_occupancy"] = dedup_simhash_band_occupancy
ORACLES["dedup_simhash_band_occupancy"] = _simhash_band_occupancy_sql()


# ---------------------------------------------------------------------------
# Incremental connected components: shard edges merge into prior labels.
# ---------------------------------------------------------------------------

def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup CLUSTERING — the CC complement of
    dedup_incremental_shard (r6 verdict item 4).  Sources src15..src19
    arrive as a NEW shard against an existing corpus whose state is two
    persisted artifacts: the prior cluster labels (min-label CC over the
    pre-shard Jaccard graph) and the shingle inverted index.  New edges
    (shard-shard + shard-corpus, exact n-gram Jaccard >= 0.5 through the
    NGRAM_MAX_DOC_FREQ-capped index probe — never all-pairs, never
    quadratic in per-shingle doc frequency: the uncapped form was the
    r11 sf10 probe's confirmed task-loss failure) are condensed onto
    prior cluster ids
    and min-label CC runs over THAT graph only: O(shard + touched
    clusters), independent of corpus size
    (operators/dedup.py::incremental_cluster_merge).

    The oracle is the FULL-RECOMPUTE transitive closure over the whole
    corpus — identical SQL to dedup_clusters — so the green hash IS the
    proof that incremental reconciliation equals batch CC."""
    from ..operators.dedup import incremental_cluster_merge
    from ..operators.graph import min_label_components

    docs = _docs(spark, sf_dir)
    srcn = F.substring("source", 4, 10).cast("int")
    index_docs = docs.filter(srcn < _SHARD_MIN_SRC)
    # ONE shingle pass + ONE inverted-index self-join over the full
    # corpus yields BOTH edge classes (Jaccard is a pair-local quantity,
    # so index-pair similarities computed here equal the index-only
    # computation bit-for-bit); the first cut ran the index self-join
    # inside duplicate_clusters plus a second shard-vs-all probe join —
    # 7.2 s in-sweep, three shingle passes.  Pair endpoints classify by
    # one slim (doc_id, is_shard) map join on each side.
    pairs = _pair_base_jaccard(spark, sf_dir, threshold=0.5).select("id_a", "id_b")
    flags = docs.select(
        "doc_id", (srcn >= _SHARD_MIN_SRC).alias("is_shard")
    )
    fa = flags.select(F.col("doc_id").alias("id_a"), F.col("is_shard").alias("sa"))
    fb = flags.select(F.col("doc_id").alias("id_b"), F.col("is_shard").alias("sb"))
    # prior CC and the merge both read it
    tagged = pin(pairs.join(fa, "id_a").join(fb, "id_b"))
    prior_edges = tagged.filter(~F.col("sa") & ~F.col("sb")).select("id_a", "id_b")
    new_edges = tagged.filter(F.col("sa") | F.col("sb")).select("id_a", "id_b")
    # persisted state in production; recomputed here so the query is
    # self-contained (the differential pytest feeds a genuinely persisted
    # prior through the same operator)
    prior = min_label_components(
        prior_edges,
        index_docs.select("doc_id"),
        "doc_id",
        warn_name="dedup_clusters_incremental.prior",
    )
    return incremental_cluster_merge(prior, new_edges, docs.select("doc_id"))


QUERIES["dedup_clusters_incremental"] = dedup_clusters_incremental
ORACLES["dedup_clusters_incremental"] = _clusters_sql()


# ---------------------------------------------------------------------------
# IVF-PQ: true product quantization ANN.
# ---------------------------------------------------------------------------

_PQ_BOOKS_CACHE = Memo()


def _shared_pq_books(spark: SparkSession, sf_dir: str) -> list:
    """Per-subspace PQ codebooks, memoized like the coarse centroids —
    production persists them next to the codebook; every PQ consumer of
    an input shares one training run."""
    from ..operators.ivf import pq_train

    emb = _emb(spark, sf_dir)
    return _PQ_BOOKS_CACHE.get(spark, [emb], (), lambda: pq_train(
        emb, _shared_ivf_centroids(spark, sf_dir), dim=EMB_DIM
    ))


def embedding_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE product-quantization ANN (IVF-PQ, Jégou et al.): per-subspace
    residual codebooks (4 subspaces x 16 codewords here; 256 at
    production width) instead of IVFADC's scalar SQ8 codes — each vector
    stored as 4 code bytes + a list id, the actual 100 TB serving format
    (16x smaller than SQ8's dim bytes, 128x smaller than raw).  Same
    train+assign+ADC+refine pipeline and the same oracle-replay
    strategy: coarse k-means, per-subspace residual k-means, code
    assignment, reconstruction, ADC ranking and the exact top-k·refine
    rerank are ALL integer-exact, so the DuckDB oracle replays training
    and search bit-for-bit (operators/ivf.py::ivfpq_oracle_sql).
    Recall@5 vs the exact baseline is pytest-measured next to IVFADC's."""
    from ..operators.ivf import ivfpq_ann_topk

    emb = _emb(spark, sf_dir)
    coarse = _shared_ivf_centroids(spark, sf_dir)
    books = _shared_pq_books(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivfpq_ann_topk(
        emb, queries, coarse, books, k=5, nprobe=2, refine=3
    ).select("query_id", "neighbor_id", "dist", "rank")


def _ivfpq_sql() -> str:
    from ..operators.ivf import ivfpq_oracle_sql

    return ivfpq_oracle_sql(
        k=8, iters=2, dim=EMB_DIM, topk=5, nprobe=2, refine=3
    )


QUERIES["embedding_ivfpq_ann"] = embedding_ivfpq_ann
ORACLES["embedding_ivfpq_ann"] = _ivfpq_sql()


def embedding_pq_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quantization distortion per subspace — the audit a 100 TB
    serving deployment reads before trusting ADC ranking: for each of
    the m subspaces, corpus size, distinct codewords actually used, the
    largest codeword bucket (codebook collapse shows up here first),
    and the integer squared reconstruction error (sum / floor-avg /
    max).  Shares the coarse codebook and PQ books with
    embedding_ivfpq_ann; the oracle replays coarse + per-subspace
    training and re-derives every per-vector error, so the distortion
    numbers themselves are bit-checked, not sampled."""
    import pandas as pd

    from ..operators.ivf import ivf_assign

    emb = _emb(spark, sf_dir)
    coarse = _shared_ivf_centroids(spark, sf_dir)
    books = _shared_pq_books(spark, sf_dir)
    m, dsub = len(books), len(books[0][0])
    inv = ivf_assign(emb, coarse)
    coarse_arr, books_arr = coarse, books

    def _errs(batches):
        import numpy as np

        cents = np.asarray(coarse_arr, dtype=np.int64)
        bk = np.asarray(books_arr, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["cv"].to_numpy()).astype(np.int64, copy=False)
            cl = pdf["cluster"].to_numpy().astype(np.int64)
            r = x - cents[cl]
            out_s, out_c, out_e = [], [], []
            for s in range(m):
                rs = r[:, s * dsub : (s + 1) * dsub]
                d = ((rs[:, None, :] - bk[s][None, :, :]) ** 2).sum(axis=2)
                c = d.argmin(axis=1)
                out_s.append(np.full(len(x), s, dtype=np.int64))
                out_c.append(c)
                out_e.append(d[np.arange(len(x)), c])
            yield pd.DataFrame(
                {
                    "s": np.concatenate(out_s),
                    "code": np.concatenate(out_c),
                    "sqerr": np.concatenate(out_e),
                }
            )

    per_vec = inv.mapInPandas(_errs, "s bigint, code bigint, sqerr bigint")
    per_code = per_vec.groupBy("s", "code").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sqerr").alias("se"),
        F.max("sqerr").alias("me"),
    )
    return (
        per_code.groupBy("s")
        .agg(
            F.sum("n").cast("long").alias("n_vecs"),
            F.count(F.lit(1)).cast("long").alias("codes_used"),
            F.max("n").cast("long").alias("max_code_bucket"),
            F.sum("se").cast("long").alias("sum_sqerr"),
            F.max("me").cast("long").alias("max_sqerr"),
        )
        .select(
            "s",
            "n_vecs",
            "codes_used",
            "max_code_bucket",
            "sum_sqerr",
            "max_sqerr",
            F.expr("sum_sqerr div n_vecs").cast("long").alias("avg_sqerr"),
        )
    )


def _pq_distortion_sql() -> str:
    from ..operators.ivf import PQ_KSUB, PQ_M, ivf_cte_body, _oracle_dist

    dim = EMB_DIM
    m, ksub, dsub = PQ_M, PQ_KSUB, EMB_DIM // PQ_M
    sdist = _oracle_dist(dsub)
    rng = f"range(1, {dim + 1})"
    srng = f"range(1, {dsub + 1})"
    body, final_c = ivf_cte_body(k=8, iters=2, dim=dim)
    # identical per-subspace training CTEs as ivfpq_oracle_sql (2 iters)
    parts = [
        f"""
res AS (SELECT i.neighbor_id AS vid, i.cluster,
               list_transform({rng}, j -> i.cv[j] - c.v[j]) AS r
        FROM inv i JOIN {final_c} c ON i.cluster = c.cid),
sub AS (SELECT vid, s,
               list_transform({srng}, j -> r[s * {dsub} + j]) AS qv
        FROM res, (SELECT unnest(range({m})) AS s)),
pc0 AS (SELECT s, ROW_NUMBER() OVER (PARTITION BY s
            ORDER BY md5('pq' || s || ':' || CAST(vid AS VARCHAR)), vid)
            - 1 AS cid, qv AS v
        FROM sub
        QUALIFY cid < {ksub})"""
    ]
    prev = "pc0"
    for it in (1, 2):
        a, u, c = f"pa{it}", f"pu{it}", f"pc{it}"
        parts.append(
            f"""
{a} AS (SELECT vid, s, qv, cid FROM (
        SELECT q.vid, q.s, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.s, q.vid
                   ORDER BY {sdist('q.qv', 'c.v')}, c.cid) AS rn
        FROM sub q JOIN {prev} c ON q.s = c.s) WHERE rn = 1),
{u} AS (SELECT s, cid, list(ci ORDER BY i) AS v FROM (
        SELECT s, cid, i,
               CAST(floor(SUM(qv[i]) * 1.0 / COUNT(*)) AS BIGINT) AS ci
        FROM {a}, {srng} t(i) GROUP BY s, cid, i) GROUP BY s, cid),
{c} AS (SELECT p.s, p.cid, COALESCE(u.v, p.v) AS v
        FROM {prev} p LEFT JOIN {u} u ON p.s = u.s AND p.cid = u.cid)"""
        )
        prev = c
    return f"""
WITH {body},{",".join(parts)},
errs AS (SELECT vid, s, cid AS code, sqerr FROM (
        SELECT q.vid, q.s, c.cid, {sdist('q.qv', 'c.v')} AS sqerr,
               ROW_NUMBER() OVER (PARTITION BY q.s, q.vid
                   ORDER BY {sdist('q.qv', 'c.v')}, c.cid) AS rn
        FROM sub q JOIN {prev} c ON q.s = c.s) WHERE rn = 1),
per_code AS (SELECT s, code, COUNT(*) AS n, SUM(sqerr) AS se, MAX(sqerr) AS me
             FROM errs GROUP BY 1, 2)
SELECT s,
       CAST(SUM(n) AS BIGINT) AS n_vecs,
       CAST(COUNT(*) AS BIGINT) AS codes_used,
       CAST(MAX(n) AS BIGINT) AS max_code_bucket,
       CAST(SUM(se) AS BIGINT) AS sum_sqerr,
       CAST(MAX(me) AS BIGINT) AS max_sqerr,
       CAST(SUM(se) // SUM(n) AS BIGINT) AS avg_sqerr
FROM per_code
GROUP BY 1
"""


QUERIES["embedding_pq_distortion_audit"] = embedding_pq_distortion_audit
ORACLES["embedding_pq_distortion_audit"] = _pq_distortion_sql()


# ---------------------------------------------------------------------------
# Dedup cascade funnel: exact -> containment -> jaccard -> simhash64.
# ---------------------------------------------------------------------------

# (shared, n_a, n_b) over every shingle-sharing pair: the table BOTH the
# cascade funnel and the detector-agreement audit read.  Memoized as an
# eager localCheckpoint, like _shared_clusters: a pipeline computes its
# pair stage once and every consumer reads it.
_PAIR_BASE_CACHE = Memo()


def _shared_pair_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup

    # The pair base rides the same NGRAM_MAX_DOC_FREQ stop-shingle cap as
    # ngram_jaccard_pairs / containment_pairs (a shingle in f docs costs
    # f^2 join pairs).  Sizes are computed AFTER the cap, so shared/n_a/n_b
    # stay a consistent capped-shingle-set algebra; every consumer's
    # oracle replays the identical doc-freq filter.  The capped-shingle
    # pin only feeds the pair table: the memo's scope releases it.
    docs = _docs(spark, sf_dir)
    return _PAIR_BASE_CACHE.get(spark, [docs], (), lambda: pin(
        dedup.shingle_overlaps(dedup.capped_shingle_hashes(docs))
    ))


def _pair_base_jaccard(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """``(id_a, id_b, jaccard)`` at ``threshold`` from the memoized
    capped pair base — bit-identical to
    ``ngram_jaccard_pairs(_docs(...), threshold=...)`` (same capped-shingle
    algebra, same sizes-after-cap, same round-to-4 cut), but every consumer
    rides ONE inverted-index self-join per input instead of re-running
    the shingle pass + doc-frequency cap + self-join per query (guide
    §2.4/§5: the pair table is the artifact a production pipeline persists
    once per ingest).  The bench prices the build as its own
    ``dedup_pair_base_build`` line."""
    base = _shared_pair_base(spark, sf_dir)
    return base.select(
        "id_a",
        "id_b",
        F.round(
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def corpus_dedup_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup FUNNEL a production curation pipeline reports after each
    ingest: four detectors run cheap-to-expensive — exact fingerprint,
    n-gram containment (>= 50%), exact Jaccard (>= 0.5), 64-bit SimHash
    (hamming <= 3) — and each stage is credited only with documents no
    EARLIER stage already flagged.  Per stage: total docs the detector
    flags on its own, newly flagged in cascade position, cumulative
    flags, and corpus survivors.  Flag convention: the higher doc id of
    a pair is the duplicate (min-id-canonical, the dedup_exact rule)
    uniformly across stages, so stage overlap is measured on one policy.

    All four detectors are the registered operators' own pair stages
    (shared inverted-index / band joins — nothing new shuffles; the
    containment/jaccard legs ride the shared pair base's
    NGRAM_MAX_DOC_FREQ stop-shingle cap since r12, retiring the
    r11-confirmed sf10 task-loss of the uncapped self-join), and the
    oracle recomputes all four from scratch, so the funnel arithmetic is
    value-checked end to end.  The 4x4 running-sum self-join replaces a
    single-partition window: stage rows are a 4-row aggregate, but the
    fleet-wide global-window ban stays clean."""
    from ..operators.dedup import simhash64_pairs, words

    docs = _docs(spark, sf_dir)
    norm = F.array_join(words(F.col("text")), " ")
    fp = docs.select("doc_id", F.md5(norm).alias("fp"))
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("canonical_id"))
    exact_flags = (
        fp.join(canon, "fp")
        .filter(F.col("doc_id") > F.col("canonical_id"))
        .select("doc_id")
    )
    # containment and jaccard read the SAME (shared, n_a, n_b) pair base —
    # the oracle already factors it; building it once here halves the
    # inverted-index self-join, the cascade's dominant exchange (measured
    # 5.8 s in-sweep with two independent operator calls)
    pair_base = _shared_pair_base(spark, sf_dir)
    contain_flags = pair_base.filter(
        F.expr("shared * 10000 div least(n_a, n_b) >= 5000")
    ).select(F.col("id_b").alias("doc_id"))
    # integer basis-point floor: floor(10000*s/u) >= 5000 is EXACTLY
    # s/u >= 0.5, so Spark and the oracle's exact-rational cut agree at
    # every boundary (round(j,4) >= 0.5 diverged for true Jaccard in
    # [0.49995, 0.5) — latent until union >= ~10k shingles, r7 ADVICE)
    jac_flags = pair_base.filter(
        F.expr("shared * 10000 div (n_a + n_b - shared) >= 5000")
    ).select(F.col("id_b").alias("doc_id"))
    stages = [
        ("exact", exact_flags),
        ("containment", contain_flags),
        ("jaccard05", jac_flags),
        (
            "simhash64_h3",
            simhash64_pairs(docs, max_hamming=3).select(
                F.col("id_b").alias("doc_id")
            ),
        ),
    ]
    flags = None
    for i, (name, df) in enumerate(stages, start=1):
        tagged = df.distinct().select(
            "doc_id",
            F.lit(i).cast("long").alias("stage"),
            F.lit(name).alias("stage_name"),
        )
        flags = tagged if flags is None else flags.unionByName(tagged)
    # two consumers (per_stage + new_per_stage) — without the pin all
    # four detector legs (fp groupBy, both capped pair cuts, the simhash
    # band join) re-executed per consumer (guide §2.4); the pin is the
    # O(flagged docs x stages) slim flag table
    flags = pin(flags)
    # explicit stage dimension: a detector that flags NOTHING still owns a
    # funnel row (flagged=0), otherwise the report silently shrinks
    dim = spark.createDataFrame(
        [(i, name) for i, (name, _) in enumerate(stages, start=1)],
        "stage LONG, stage_name STRING",
    )
    per_stage = flags.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("flagged")
    )
    new_per_stage = (
        flags.groupBy("doc_id")
        .agg(F.min("stage").alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).cast("long").alias("new_flags"))
    )
    # 4 rows; both sides of the running-sum self-join read it — the
    # pin keeps the funnel aggregation single-pass over the flag pin
    joined = pin(
        dim.join(per_stage, "stage", "left")
        .join(new_per_stage, "stage", "left")
        .select(
            "stage",
            "stage_name",
            F.coalesce("flagged", F.lit(0)).cast("long").alias("flagged"),
            F.coalesce("new_flags", F.lit(0)).cast("long").alias("new_flags"),
        )
    )
    # running sum over 4 rows via inequality self-join (no global window)
    cum_src = joined.select(
        F.col("stage").alias("cstage"), F.col("new_flags").alias("cnew")
    )
    cum = (
        joined.join(F.broadcast(cum_src), F.col("cstage") <= F.col("stage"))
        .groupBy("stage", "stage_name", "flagged", "new_flags")
        .agg(F.sum("cnew").cast("long").alias("cum_flagged"))
    )
    total = docs.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    return cum.join(F.broadcast(total)).select(
        "stage",
        "stage_name",
        "flagged",
        "new_flags",
        "cum_flagged",
        (F.col("n_docs") - F.col("cum_flagged")).cast("long").alias("survivors"),
    )


def _dedup_cascade_sql() -> str:
    from ..operators.ivf import _oracle_dist  # noqa: F401 (doc parity only)

    votes64 = ",\n           ".join(
        f"SUM(CASE WHEN ({word} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS {word}_v{b}"
        for word in ("hlo", "hhi")
        for b in range(32)
    )

    def fold64(word: str) -> str:
        return " + ".join(
            f"CASE WHEN {word}_v{b} >= 0 THEN CAST({1 << b} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END"
            for b in range(32)
        )

    return rf"""
WITH ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
fp AS (SELECT doc_id,
              md5(array_to_string(string_split_regex(trim(text), '\s+'), ' ')) AS fp
       FROM documents),
exact_flags AS (
    SELECT f.doc_id FROM fp f
    JOIN (SELECT fp, MIN(doc_id) AS canonical_id FROM fp GROUP BY 1) c
      ON f.fp = c.fp
    WHERE f.doc_id > c.canonical_id
),
sh_all AS (
    SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM ws) WHERE s IS NOT NULL AND s <> ''
),
-- pair legs ride the NGRAM_MAX_DOC_FREQ stop-shingle cap (r12 rollout),
-- replaying _shared_pair_base's doc-frequency filter exactly
sh AS (SELECT doc_id, h FROM sh_all
       WHERE h IN (SELECT h FROM sh_all GROUP BY h
                   HAVING COUNT(*) <= {NGRAM_MAX_DOC_FREQ})),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
contain_flags AS (
    SELECT id_b AS doc_id FROM shared
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE (shared * 10000) // LEAST(sa.n_sh, sb.n_sh) >= 5000
),
jac_flags AS (
    SELECT id_b AS doc_id FROM shared
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE (shared * 10000) // (sa.n_sh + sb.n_sh - shared) >= 5000
),
wrd AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
h64 AS (SELECT doc_id,
               ('0x' || substr(md5(w), 1, 8))::BIGINT AS hlo,
               ('0x' || substr(md5(w), 9, 8))::BIGINT AS hhi
        FROM wrd),
v64 AS (SELECT doc_id, {votes64} FROM h64 GROUP BY 1),
s64 AS (SELECT doc_id, {fold64("hlo")} AS sh_lo, {fold64("hhi")} AS sh_hi FROM v64),
bands AS (
    SELECT doc_id, sh_lo, sh_hi, b AS band,
           CASE WHEN b < 2 THEN (sh_lo >> (16 * b)) & 65535
                ELSE (sh_hi >> (16 * (b - 2))) & 65535 END AS key
    FROM s64, (SELECT unnest(range(4)) AS b)
),
sim_flags AS (
    SELECT DISTINCT b.doc_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) <= 3
),
flags AS (
    SELECT DISTINCT doc_id, 1 AS stage, 'exact' AS stage_name FROM exact_flags
    UNION ALL
    SELECT DISTINCT doc_id, 2, 'containment' FROM contain_flags
    UNION ALL
    SELECT DISTINCT doc_id, 3, 'jaccard05' FROM jac_flags
    UNION ALL
    SELECT DISTINCT doc_id, 4, 'simhash64_h3' FROM sim_flags
),
dim AS (
    SELECT * FROM (VALUES (1, 'exact'), (2, 'containment'),
                          (3, 'jaccard05'), (4, 'simhash64_h3'))
         AS t(stage, stage_name)
),
per_stage AS (
    SELECT stage, CAST(COUNT(*) AS BIGINT) AS flagged
    FROM flags GROUP BY 1
),
new_per AS (
    SELECT stage, CAST(COUNT(*) AS BIGINT) AS new_flags FROM (
        SELECT doc_id, MIN(stage) AS stage FROM flags GROUP BY 1
    ) GROUP BY 1
),
joined AS (
    SELECT d.stage, d.stage_name,
           CAST(COALESCE(p.flagged, 0) AS BIGINT) AS flagged,
           CAST(COALESCE(n.new_flags, 0) AS BIGINT) AS new_flags
    FROM dim d
    LEFT JOIN per_stage p ON d.stage = p.stage
    LEFT JOIN new_per n ON d.stage = n.stage
)
SELECT CAST(j.stage AS BIGINT) AS stage, j.stage_name, j.flagged, j.new_flags,
       CAST(SUM(c.new_flags) AS BIGINT) AS cum_flagged,
       CAST((SELECT COUNT(*) FROM documents) - SUM(c.new_flags) AS BIGINT) AS survivors
FROM joined j JOIN joined c ON c.stage <= j.stage
GROUP BY 1, 2, 3, 4
"""


QUERIES["corpus_dedup_cascade_audit"] = corpus_dedup_cascade_audit
ORACLES["corpus_dedup_cascade_audit"] = _dedup_cascade_sql()




_PQ_REFINE_SWEEP = (1, 3, 10)


def embedding_ivfpq_refine_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refine knob of IVF-PQ, measured: recall@5 at refine = 1/3/10
    against the refine-everything truth (exact rerank of EVERY probed
    candidate at the same nprobe=2 — so the sweep isolates pure
    ADC-ordering loss, the quantity PQ distortion actually costs at
    query time; the pytest for embedding_ivfpq_ann measured 0.26/0.54/
    0.76 at 3/10/20 on this corpus).  Third panel of the serving-config
    trio: nprobe sweep (probe cost), distortion audit (code quality),
    refine sweep (rerank budget).

    One-pass discipline (the nprobe-sweep lesson, 6.2 -> 2.9 s): PQ
    encode + reconstruct run ONCE; every candidate carries both its ADC
    rank and its exact distance, so each sweep leg is a filter + rank
    window over one pinned candidate table.  Oracle: full train+search
    replay per leg via the shared parameterized generator."""
    import pandas as pd

    from ..operators.ivf import _probe_clusters, ivf_assign, sq_dist

    emb = _emb(spark, sf_dir)
    coarse = _shared_ivf_centroids(spark, sf_dir)
    books = _shared_pq_books(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    nq = queries.count()  # fixed panel, 1-int scalar
    # ivfpq_ann_topk reranks survivors only; the sweep needs (arank,
    # exact dist) on EVERY candidate, so the candidate stage is inlined
    # with the exact vector riding along (cv2):
    inv = ivf_assign(emb, coarse)
    m, dsub = len(books), len(books[0][0])
    coarse_arr, books_arr = coarse, books

    def _encode(batches):
        import numpy as np

        cents = np.asarray(coarse_arr, dtype=np.int64)
        bk = np.asarray(books_arr, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["cv"].to_numpy()).astype(np.int64, copy=False)
            cl = pdf["cluster"].to_numpy().astype(np.int64)
            r = x - cents[cl]
            rv = cents[cl].copy()
            for s in range(m):
                rs = r[:, s * dsub : (s + 1) * dsub]
                d = ((rs[:, None, :] - bk[s][None, :, :]) ** 2).sum(axis=2)
                rv[:, s * dsub : (s + 1) * dsub] += bk[s][d.argmin(axis=1)]
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "cluster": cl,
                    "cv2": list(x),
                    "rv": list(rv),
                }
            )

    inv_r = inv.mapInPandas(
        _encode,
        "neighbor_id bigint, cluster bigint, cv2 array<bigint>, rv array<bigint>",
    )
    probes = _probe_clusters(queries, coarse, 2, "vec_id", "embedding")
    cands = inv_r.join(F.broadcast(probes), on="cluster").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    # every sweep leg + truth read it
    scored = pin(
        cands.select(
            "query_id",
            "neighbor_id",
            sq_dist(F.col("qv"), F.col("rv")).alias("adist"),
            sq_dist(F.col("qv"), F.col("cv2")).alias("dist"),
        )
        .withColumn("arank", F.row_number().over(wa))
    )
    wd = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    truth = (
        scored.withColumn("rank", F.row_number().over(wd))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    legs = None
    for r_ in _PQ_REFINE_SWEEP:
        leg = (
            scored.filter(F.col("arank") <= 5 * r_)
            .withColumn("rank", F.row_number().over(wd))
            .filter(F.col("rank") <= 5)
            .select(
                F.lit(r_).cast("long").alias("refine"),
                "query_id",
                "neighbor_id",
            )
        )
        legs = leg if legs is None else legs.unionByName(leg)
    hits = (
        legs.join(truth, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("refine")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    return hits.select(
        "refine",
        "hits",
        F.expr(f"hits * 10000 div {nq * 5}").cast("long").alias("recall_bp"),
    )


def _ivfpq_refine_sweep_sql() -> str:
    from ..operators.ivf import ivfpq_oracle_sql

    def leg(refine: int) -> str:
        return ivfpq_oracle_sql(
            k=8, iters=2, dim=EMB_DIM, topk=5, nprobe=2, refine=refine
        )

    union = "\nUNION ALL\n".join(
        f"SELECT CAST({r_} AS BIGINT) AS refine, query_id, neighbor_id"
        f" FROM (\n{leg(r_)}\n)"
        for r_ in _PQ_REFINE_SWEEP
    )
    return rf"""
WITH truth AS (
    SELECT query_id, neighbor_id FROM (
{leg(1_000_000)}
    )
),
legs AS (
{union}
),
nq AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 20),
hits AS (
    SELECT refine, CAST(COUNT(*) AS BIGINT) AS hits
    FROM legs SEMI JOIN truth USING (query_id, neighbor_id)
    GROUP BY 1
)
SELECT refine, hits,
       CAST(hits * 10000 // ((SELECT n FROM nq) * 5) AS BIGINT)
           AS recall_bp
FROM hits
"""


QUERIES["embedding_ivfpq_refine_sweep"] = embedding_ivfpq_refine_sweep
ORACLES["embedding_ivfpq_refine_sweep"] = _ivfpq_refine_sweep_sql()


def dedup_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise AGREEMENT between the two fuzzy-dedup detectors — exact
    n-gram Jaccard (>= 0.5) and 64-bit SimHash (hamming <= 3) — stratified
    by true Jaccard in 10%-wide buckets: per bucket, pairs both flag,
    pairs only Jaccard flags (SimHash misses = its false negatives at
    that similarity), pairs only SimHash flags (its false positives —
    cosine-of-profile lookalikes with low shingle overlap).  This is the
    calibration table a curation owner reads before trusting the cheap
    detector at 100 TB where the exact one can't run.  One shared pair
    base (the cascade discipline) + the banded SimHash pair stage; the
    outer union of the two pair sets joins back to sizes so zero-overlap
    SimHash pairs land in bucket 0 instead of vanishing."""
    from ..operators.dedup import simhash64_pairs

    docs = _docs(spark, sf_dir)
    base = _shared_pair_base(spark, sf_dir).select(
        "id_a",
        "id_b",
        F.expr("shared * 10000 div (n_a + n_b - shared)").alias("jbp"),
    )
    jac = base.filter(
        # bp-floor threshold (jbp >= 5000), applied identically in this
        # query's oracle.  NOTE: ngram_jaccard_pairs' cut is
        # round(j,4) >= 0.5, which additionally admits j in
        # [0.49995, 0.5) — a half-ulp band this audit classifies as
        # jaccard_bucket 4 instead; the detectors' own registered
        # queries keep their own cuts
        F.col("jbp") >= 5000
    ).select("id_a", "id_b", F.lit(True).alias("in_jac"))
    sim = simhash64_pairs(docs, max_hamming=3).select(
        "id_a", "id_b", F.lit(True).alias("in_sim")
    )
    uni = (
        jac.join(sim, ["id_a", "id_b"], "full_outer")
        .select(
            "id_a",
            "id_b",
            F.coalesce("in_jac", F.lit(False)).alias("in_jac"),
            F.coalesce("in_sim", F.lit(False)).alias("in_sim"),
        )
        .join(base.select("id_a", "id_b", "jbp"), ["id_a", "id_b"], "left")
        .select(
            "in_jac",
            "in_sim",
            F.coalesce("jbp", F.lit(0)).alias("jbp"),
        )
    )
    return (
        uni.groupBy(F.expr("jbp div 1000").cast("long").alias("jaccard_bucket"))
        .agg(
            F.sum(F.when(F.col("in_jac") & F.col("in_sim"), 1).otherwise(0))
            .cast("long")
            .alias("n_both"),
            F.sum(F.when(F.col("in_jac") & ~F.col("in_sim"), 1).otherwise(0))
            .cast("long")
            .alias("n_jaccard_only"),
            F.sum(F.when(~F.col("in_jac") & F.col("in_sim"), 1).otherwise(0))
            .cast("long")
            .alias("n_simhash_only"),
        )
    )


def _detector_agreement_sql() -> str:
    votes64 = ",\n           ".join(
        f"SUM(CASE WHEN ({word} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS {word}_v{b}"
        for word in ("hlo", "hhi")
        for b in range(32)
    )

    def fold64(word: str) -> str:
        return " + ".join(
            f"CASE WHEN {word}_v{b} >= 0 THEN CAST({1 << b} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END"
            for b in range(32)
        )

    return rf"""
WITH ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh_all AS (
    SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM ws) WHERE s IS NOT NULL AND s <> ''
),
-- pair legs ride the NGRAM_MAX_DOC_FREQ stop-shingle cap (r12 rollout),
-- replaying _shared_pair_base's doc-frequency filter exactly
sh AS (SELECT doc_id, h FROM sh_all
       WHERE h IN (SELECT h FROM sh_all GROUP BY h
                   HAVING COUNT(*) <= {NGRAM_MAX_DOC_FREQ})),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
base AS (
    SELECT id_a, id_b,
           (shared * 10000) // (sa.n_sh + sb.n_sh - shared) AS jbp
    FROM shared
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
),
jac AS (SELECT id_a, id_b, true AS in_jac FROM base WHERE jbp >= 5000),
wrd AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
h64 AS (SELECT doc_id,
               ('0x' || substr(md5(w), 1, 8))::BIGINT AS hlo,
               ('0x' || substr(md5(w), 9, 8))::BIGINT AS hhi
        FROM wrd),
v64 AS (SELECT doc_id, {votes64} FROM h64 GROUP BY 1),
s64 AS (SELECT doc_id, {fold64("hlo")} AS sh_lo, {fold64("hhi")} AS sh_hi FROM v64),
bands AS (
    SELECT doc_id, sh_lo, sh_hi, b AS band,
           CASE WHEN b < 2 THEN (sh_lo >> (16 * b)) & 65535
                ELSE (sh_hi >> (16 * (b - 2))) & 65535 END AS key
    FROM s64, (SELECT unnest(range(4)) AS b)
),
sim AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, true AS in_sim
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) <= 3
),
uni AS (
    SELECT COALESCE(j.id_a, s.id_a) AS id_a,
           COALESCE(j.id_b, s.id_b) AS id_b,
           COALESCE(j.in_jac, false) AS in_jac,
           COALESCE(s.in_sim, false) AS in_sim
    FROM jac j FULL OUTER JOIN sim s ON j.id_a = s.id_a AND j.id_b = s.id_b
),
strat AS (
    SELECT u.in_jac, u.in_sim, COALESCE(b.jbp, 0) AS jbp
    FROM uni u LEFT JOIN base b ON u.id_a = b.id_a AND u.id_b = b.id_b
)
SELECT CAST(jbp // 1000 AS BIGINT) AS jaccard_bucket,
       CAST(SUM(CASE WHEN in_jac AND in_sim THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       CAST(SUM(CASE WHEN in_jac AND NOT in_sim THEN 1 ELSE 0 END) AS BIGINT) AS n_jaccard_only,
       CAST(SUM(CASE WHEN NOT in_jac AND in_sim THEN 1 ELSE 0 END) AS BIGINT) AS n_simhash_only
FROM strat
GROUP BY 1
"""


QUERIES["dedup_detector_agreement"] = dedup_detector_agreement
ORACLES["dedup_detector_agreement"] = _detector_agreement_sql()


# ---------------------------------------------------------------------------
# Sampled-train IVF-PQ: train-on-sample, encode-everything.
# ---------------------------------------------------------------------------

_SAMPLED_TRAIN_FRAC = 0.5

_SAMPLED_BOOKS_CACHE = Memo()


def _shared_sampled_codebooks(spark: SparkSession, sf_dir: str) -> tuple:
    """(coarse, books) trained on the deterministic hash SAMPLE at
    ``_SAMPLED_TRAIN_FRAC`` — memoized like _shared_ivf_centroids /
    _shared_pq_books so the production search query and the
    recall-vs-truth audit share one training run per input (production
    persists the codebooks, so the audit reading them back is the honest
    cost model).  bench.py's --one releases this memo between reps, so
    the production query's best rep still pays its training."""
    from ..operators.ivf import ivf_train, pq_train

    emb = _emb(spark, sf_dir)

    def train():
        coarse = ivf_train(emb, k=8, iters=2, dim=EMB_DIM, train_frac=_SAMPLED_TRAIN_FRAC)
        return coarse, pq_train(emb, coarse, dim=EMB_DIM, train_frac=_SAMPLED_TRAIN_FRAC)

    return _SAMPLED_BOOKS_CACHE.get(spark, [emb], (), train)


def embedding_ivfpq_sampled_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION sampled-train IVF-PQ operator (r8 verdict item 4):
    codebooks (coarse AND per-subspace PQ) trained on a deterministic
    hash sample of the corpus, everything encoded, the 20-query panel
    searched — ``(query_id, neighbor_id, dist, rank)``, the exact shape
    embedding_ivfpq_ann serves, at sample-scaled training cost (sf1
    measured: full-train 24.8 s, frac=0.5 13.2 s, frac=0.1 9.8 s).  This
    is the number a 100 TB capacity plan reads; the recall-vs-truth
    audit that used to ride along in the same registered query is now
    ``embedding_ivfpq_sampled_train`` (it re-uses this query's memoized
    codebooks, as production would read persisted ones).  The oracle
    replays sampled training + encode + search bit-for-bit
    (ivfpq_oracle_sql with train_frac/pq_train_frac)."""
    from ..operators.ivf import ivfpq_ann_topk

    emb = _emb(spark, sf_dir)
    coarse_s, books_s = _shared_sampled_codebooks(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivfpq_ann_topk(
        emb, queries, coarse_s, books_s, k=5, nprobe=2, refine=3
    ).select("query_id", "neighbor_id", "dist", "rank")


def _ivfpq_sampled_search_sql() -> str:
    from ..operators.ivf import ivfpq_oracle_sql

    return ivfpq_oracle_sql(
        k=8, iters=2, dim=EMB_DIM, topk=5, nprobe=2, refine=3,
        train_frac=_SAMPLED_TRAIN_FRAC, pq_train_frac=_SAMPLED_TRAIN_FRAC,
    )


QUERIES["embedding_ivfpq_sampled_search"] = embedding_ivfpq_sampled_search
ORACLES["embedding_ivfpq_sampled_search"] = _ivfpq_sampled_search_sql()


def embedding_ivfpq_sampled_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-TRUTH AUDIT for the sampled-train posture (the
    production operator is :func:`embedding_ivfpq_sampled_search`, split
    out in r9 so the bench line for the operator stops conflating audit
    cost — this query reads the session-memoized sampled codebooks the
    way production reads persisted ones, then pays for the exact
    baseline and the full-train comparison on top).  Per query,
    the exact integer-L2 top-5 (the truth both approximations chase) and
    how many of those five each variant's IVF-PQ top-5 recovered —
    ``(query_id, n_exact, hits_sampled, hits_full)``.  The claim under
    test is that sampling the TRAIN SET does not cost recall; comparing
    each variant to the truth (rather than to each other) is the honest
    metric on this near-isotropic corpus, where nprobe=2 list membership
    is codebook-sensitive even though recall is not (sampled-vs-full
    RESULT overlap is ~9% at sf0.1 while recall-vs-truth is 14/100
    sampled vs 15/100 full — identical within noise at the documented
    nprobe=2/refine=3 operating point; this query replaced its first,
    overlap-based form after that measurement).

    Everything — both trainings, encodings, searches, the exact
    baseline, and the hit arithmetic — is integer-exact and replayed by
    the oracle (ivfpq_oracle_sql with train_frac/pq_train_frac mirroring
    operators/ivf.py's hash_bucket sample).  The full-train side reuses
    the session-memoized codebooks shared with embedding_ivfpq_ann.
    The exact leg is the sanctioned 20-row broadcast-query-panel BNLJ
    (cosine_topk precedent, see tests/test_plans.py allowlist)."""
    from ..operators.ivf import exact_sq_topk, ivfpq_ann_topk

    emb = _emb(spark, sf_dir)
    coarse_s, books_s = _shared_sampled_codebooks(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    sampled = ivfpq_ann_topk(
        emb, queries, coarse_s, books_s, k=5, nprobe=2, refine=3
    ).select("query_id", "neighbor_id")
    full = ivfpq_ann_topk(
        emb,
        queries,
        _shared_ivf_centroids(spark, sf_dir),
        _shared_pq_books(spark, sf_dir),
        k=5,
        nprobe=2,
        refine=3,
    ).select("query_id", "neighbor_id")
    # exact ground truth as ONE vectorized corpus pass with per-batch
    # partial top-5 (r13, guide §3/§4.2) — replaces the 20×-corpus
    # broadcast-NLJ + full rank window; row-identical (exactness argument
    # on operators/ivf.exact_sq_topk; oracle unchanged)
    # three consumers (n_ex, hits_s, hits_f) — without the pin the
    # exact pass re-executes per consumer (guide §2.4); the pin is
    # <= 100 (query_id, neighbor_id) rows
    exact5 = pin(
        exact_sq_topk(emb, queries, k=5)
    )
    n_ex = exact5.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    hits_s = (
        sampled.join(exact5, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hits_sampled"))
    )
    hits_f = (
        full.join(exact5, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hits_full"))
    )
    return (
        n_ex.join(hits_s, "query_id", "left")
        .join(hits_f, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("hits_sampled", F.lit(0)).cast("long").alias("hits_sampled"),
            F.coalesce("hits_full", F.lit(0)).cast("long").alias("hits_full"),
        )
    )


def _ivfpq_sampled_train_sql() -> str:
    from ..operators.ivf import QUANT, _oracle_dist, ivfpq_oracle_sql

    samp = ivfpq_oracle_sql(
        k=8, iters=2, dim=EMB_DIM, topk=5, nprobe=2, refine=3,
        train_frac=_SAMPLED_TRAIN_FRAC, pq_train_frac=_SAMPLED_TRAIN_FRAC,
    )
    full = ivfpq_oracle_sql(k=8, iters=2, dim=EMB_DIM, topk=5, nprobe=2, refine=3)
    dist = _oracle_dist(EMB_DIM)
    return f"""
WITH samp AS ({samp}), fl AS ({full}),
qq AS (SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
       FROM embeddings),
ex AS (SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY {dist('q.v', 'c.v')}, c.vec_id) AS rn
        FROM (SELECT * FROM qq WHERE vec_id < 20) q
        CROSS JOIN qq c
        WHERE c.vec_id <> q.vec_id) WHERE rn <= 5),
ne AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY 1),
hs AS (SELECT s.query_id, COUNT(*) AS hits_sampled
       FROM samp s JOIN ex USING (query_id, neighbor_id) GROUP BY 1),
hf AS (SELECT f.query_id, COUNT(*) AS hits_full
       FROM fl f JOIN ex USING (query_id, neighbor_id) GROUP BY 1)
SELECT ne.query_id,
       CAST(ne.n_exact AS BIGINT) AS n_exact,
       CAST(COALESCE(hs.hits_sampled, 0) AS BIGINT) AS hits_sampled,
       CAST(COALESCE(hf.hits_full, 0) AS BIGINT) AS hits_full
FROM ne LEFT JOIN hs USING (query_id) LEFT JOIN hf USING (query_id)
"""


QUERIES["embedding_ivfpq_sampled_train"] = embedding_ivfpq_sampled_train
ORACLES["embedding_ivfpq_sampled_train"] = _ivfpq_sampled_train_sql()


# ---------------------------------------------------------------------------
# Exact substring dedup: longest duplicated run via winnowing anchors
# (r7 verdict item 6).
# ---------------------------------------------------------------------------


def corpus_dup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest exactly-duplicated token run per document pair — the
    suffix-style dedup modality (Lee et al. 2022's duplicated-substring
    removal) that corpus_span_dedup's fixed-width fingerprints miss at
    unaligned offsets and winnowing alone only fingerprints: shared
    winnowing anchors (k=3 grams, w=4 windows — every common run of
    >= 6 tokens is guaranteed a shared anchor), doc-frequency-capped
    anchor-hash equi-join, then bounded token-exact extend-and-verify
    (±10 tokens) around each collision, longest match kept per pair.
    Output ``(id_a, id_b, len_tokens, start_a, start_b)``.  The oracle
    replays the entire algorithm (anchors, cap, extension arithmetic,
    tie-break) so every reported span and every boundary clamp is
    value-checked; pytest additionally plants duplicates at adversarial
    alignments and verifies recovered spans against construction."""
    from ..operators.span_dedup import duplicate_substrings

    return duplicate_substrings(_docs(spark, sf_dir), k=3, w=4, ext=10, max_df=8)


def _dup_substrings_sql() -> str:
    from ..operators.span_dedup import duplicate_substrings_oracle_sql

    return duplicate_substrings_oracle_sql(k=3, w=4, ext=10, max_df=8)


QUERIES["corpus_dup_substrings"] = corpus_dup_substrings
ORACLES["corpus_dup_substrings"] = _dup_substrings_sql()


_SPAN_COVERAGE_CACHE = Memo()


def _shared_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized duplicated-span coverage table — shared by
    corpus_dup_span_coverage and corpus_dedup_verdicts so the sweep pays
    the anchor/extension pipeline once per input (the _shared_pair_base
    discipline)."""
    from ..operators.span_dedup import duplicate_span_coverage

    docs = _docs(spark, sf_dir)
    return _SPAN_COVERAGE_CACHE.get(spark, [docs], (), lambda: pin(
        duplicate_span_coverage(docs, k=3, w=4, ext=10, max_df=8)
    ))


def corpus_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token COVERAGE — the number the substring
    detector exists to produce: for every doc, how many of its tokens
    lie inside at least one exactly-duplicated run (all verified
    extended matches from corpus_dup_substrings' anchor machinery, both
    endpoints, merged as intervals per doc), as an integer basis-point
    fraction.  Lee et al. 2022's trim/drop policies threshold on exactly
    this; span_ownership's fixed-width dup_frac both double-counts
    overlapping windows and misses unaligned duplication.  The oracle
    replays anchors, extension, the gaps-and-islands interval merge and
    the bp arithmetic end-to-end."""
    return _shared_span_coverage(spark, sf_dir)


def _dup_span_coverage_sql() -> str:
    from ..operators.span_dedup import duplicate_span_coverage_oracle_sql

    return duplicate_span_coverage_oracle_sql(k=3, w=4, ext=10, max_df=8)


QUERIES["corpus_dup_span_coverage"] = corpus_dup_span_coverage
ORACLES["corpus_dup_span_coverage"] = _dup_span_coverage_sql()


def embedding_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-list BALANCE audit — the number an ANN serving deployment
    reads before trusting its probe-cost model: per coarse cluster, list
    size plus an integer parts-per-million imbalance ratio vs the
    uniform share (1e6 = perfectly balanced; 4e6 = this list carries 4x
    its share, so nprobe hits on it cost 4x the budgeted scan).  Skewed
    lists are ALSO the recall hazard: a fat list under-trained centroids
    is where SemDedup/IVF-PQ distortion concentrates.  One assignment
    pass (shared memoized centroids) + one groupBy; the oracle replays
    training + assignment + the ppm arithmetic bit-for-bit."""
    from ..operators.ivf import ivf_assign

    emb = _emb(spark, sf_dir)
    centroids = _shared_ivf_centroids(spark, sf_dir)
    k = len(centroids)
    per = (
        ivf_assign(emb, centroids)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("long").alias("list_size"))
    )
    total = per.groupBy().agg(F.sum("list_size").alias("n_total"))
    return (
        per.join(F.broadcast(total))
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "list_size",
            F.expr(f"list_size * 1000000 * {k} div n_total")
            .cast("long")
            .alias("imbalance_ppm"),
        )
    )


def _ivf_balance_sql() -> str:
    from ..operators.ivf import ivf_cte_body

    body, _ = ivf_cte_body(k=8, iters=2, dim=EMB_DIM)
    return f"""
WITH {body},
per AS (SELECT cluster, COUNT(*) AS list_size FROM inv GROUP BY 1)
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(list_size AS BIGINT) AS list_size,
       CAST((list_size * 1000000 * 8) // (SELECT SUM(list_size) FROM per)
            AS BIGINT) AS imbalance_ppm
FROM per
"""


QUERIES["embedding_ivf_balance_audit"] = embedding_ivf_balance_audit
ORACLES["embedding_ivf_balance_audit"] = _ivf_balance_sql()


# ---------------------------------------------------------------------------
# Per-doc retention verdicts: the dedup pipeline's terminal artifact.
# ---------------------------------------------------------------------------

_VERDICT_DROP_BP = 5000   # >= half the doc duplicated -> drop
_VERDICT_TRIM_BP = 1500   # >= 15% duplicated -> trim the spans, keep the rest


def corpus_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's TERMINAL artifact: one retention verdict per
    document, combining the two orthogonal signals a curation run acts
    on — exact-duplicate canonicalization (non-canonical copies drop
    regardless of anything else; min-id keeps, the dedup_exact rule) and
    duplicated-span coverage (mostly-duplicated docs drop; partially
    duplicated docs get their spans trimmed; the rest keep).  Output
    ``(doc_id, verdict, coverage_bp, is_canonical)`` with verdict in
    {drop_exact, drop_dup, trim_spans, keep} — the table a 100 TB
    curation job writes back next to the corpus and every downstream
    reader filters on.

    Composition economics: the coverage side reads the session-memoized
    _shared_span_coverage (the anchor/extension pipeline runs once for
    this query AND corpus_dup_span_coverage); the exact side is one
    md5-fingerprint groupBy.  The oracle nests the full coverage replay
    and the fingerprint canonicalization and re-derives every verdict
    boundary, so the CASE thresholds themselves are value-checked.
    Streaming twin: streaming/verdict_ingest.py maintains this exact
    table incrementally per micro-batch (r8 verdict item 5)."""
    from ..operators.span_dedup import retention_verdicts

    return retention_verdicts(
        _docs(spark, sf_dir),
        coverage=_shared_span_coverage(spark, sf_dir),
        drop_bp=_VERDICT_DROP_BP,
        trim_bp=_VERDICT_TRIM_BP,
    )


def _dedup_verdicts_sql() -> str:
    from ..operators.span_dedup import duplicate_span_coverage_oracle_sql

    cov = duplicate_span_coverage_oracle_sql(k=3, w=4, ext=10, max_df=8)
    return rf"""
WITH cov AS ({cov}),
fp AS (SELECT doc_id,
              md5(array_to_string(string_split_regex(trim(text), '\s+'), ' '))
                  AS fp
       FROM documents),
canon AS (SELECT fp, MIN(doc_id) AS canonical_id FROM fp GROUP BY 1)
SELECT f.doc_id,
       CASE WHEN f.doc_id <> c.canonical_id THEN 'drop_exact'
            WHEN cov.coverage_bp >= {_VERDICT_DROP_BP} THEN 'drop_dup'
            WHEN cov.coverage_bp >= {_VERDICT_TRIM_BP} THEN 'trim_spans'
            ELSE 'keep' END AS verdict,
       CAST(cov.coverage_bp AS BIGINT) AS coverage_bp,
       CAST(f.doc_id = c.canonical_id AS BIGINT) AS is_canonical
FROM fp f JOIN canon c USING (fp) JOIN cov ON cov.doc_id = f.doc_id
"""


QUERIES["corpus_dedup_verdicts"] = corpus_dedup_verdicts
ORACLES["corpus_dedup_verdicts"] = _dedup_verdicts_sql()


# ---------------------------------------------------------------------------
# Round-9 additions: dedup cluster quality, verdict effects report,
# metadata-filtered ANN.
# ---------------------------------------------------------------------------


def dedup_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality audit of the near-dup CLUSTERS a 100 TB dedup run acts on:
    per multi-document cluster, its size, edge count, edge density
    (``2·E·10000 div n(n−1)`` basis points — 10000 = clique, low values
    flag chain-shaped clusters where transitive closure glued docs that
    are NOT mutually similar, the classic over-merge failure of
    connected-components dedup), and the min/max edge Jaccard in basis
    points.  The actionable read: a big low-density cluster with a low
    min edge is a candidate for re-clustering at a higher threshold
    before its canonical representative eats every member.

    Composition economics: rides the session-memoized pair base
    (cascade/agreement's one-pass shingle self-join) and the memoized
    cluster labels; the audit itself is two aggregations.  Edge rule:
    integer basis-point floor ``shared·10000 div union >= 5000``, which
    is rational-equal to the oracle's ``shared/union >= 0.5`` cut at
    every boundary (dedup_containment precedent; the batch cluster
    stage's round(j,4) form agrees everywhere off the half-ulp knife
    edge no corpus row sits on — same documented divergence class as
    corpus_dedup_cascade_audit's jaccard05 stage)."""
    clusters = _shared_clusters(spark, sf_dir, threshold=0.5)
    base = _shared_pair_base(spark, sf_dir)
    edges = base.withColumn(
        "jbp", F.expr("shared * 10000 div (n_a + n_b - shared)")
    ).filter(F.col("jbp") >= 5000)
    ec = edges.join(
        clusters.select(F.col("doc_id").alias("id_a"), "cluster_id"), "id_a"
    )
    per_cluster = ec.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.min("jbp").cast("long").alias("min_edge_jbp"),
        F.max("jbp").cast("long").alias("max_edge_jbp"),
    )
    sizes = (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .filter(F.col("size") >= 2)
    )
    return sizes.join(per_cluster, "cluster_id").select(
        "cluster_id",
        "size",
        "n_edges",
        F.expr("2 * n_edges * 10000 div (size * (size - 1))")
        .cast("long")
        .alias("density_bp"),
        "min_edge_jbp",
        "max_edge_jbp",
    )


def _cluster_quality_sql() -> str:
    clusters = _clusters_sql().strip()
    return rf"""
WITH clusters AS ({clusters}),
ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh_all AS (
    SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM ws) WHERE s IS NOT NULL AND s <> ''
),
-- pair legs ride the NGRAM_MAX_DOC_FREQ stop-shingle cap (r12 rollout),
-- replaying _shared_pair_base's doc-frequency filter exactly
sh AS (SELECT doc_id, h FROM sh_all
       WHERE h IN (SELECT h FROM sh_all GROUP BY h
                   HAVING COUNT(*) <= {NGRAM_MAX_DOC_FREQ})),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
edges AS (
    SELECT id_a, id_b,
           shared * 10000 // (sa.n_sh + sb.n_sh - shared) AS jbp
    FROM shared
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE shared * 10000 // (sa.n_sh + sb.n_sh - shared) >= 5000
),
ec AS (SELECT c.cluster_id, e.jbp FROM edges e JOIN clusters c ON c.doc_id = e.id_a),
pc AS (SELECT cluster_id, COUNT(*) AS n_edges,
              MIN(jbp) AS min_edge_jbp, MAX(jbp) AS max_edge_jbp
       FROM ec GROUP BY 1),
sz AS (SELECT cluster_id, COUNT(*) AS size FROM clusters GROUP BY 1 HAVING COUNT(*) >= 2)
SELECT sz.cluster_id,
       CAST(sz.size AS BIGINT) AS size,
       CAST(pc.n_edges AS BIGINT) AS n_edges,
       CAST(2 * pc.n_edges * 10000 // (sz.size * (sz.size - 1)) AS BIGINT) AS density_bp,
       CAST(pc.min_edge_jbp AS BIGINT) AS min_edge_jbp,
       CAST(pc.max_edge_jbp AS BIGINT) AS max_edge_jbp
FROM sz JOIN pc USING (cluster_id)
"""


QUERIES["dedup_cluster_quality"] = dedup_cluster_quality
ORACLES["dedup_cluster_quality"] = _cluster_quality_sql()


def corpus_verdict_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the dedup verdicts COST, by source — the report a curation
    owner reads before signing off a 100 TB run: per ``documents.source``,
    document counts by verdict class and the token ledger (tokens before,
    tokens after keep/trim/drop are applied, savings in basis points).
    ``trim_spans`` docs retain ``n_tokens − covered_tokens`` (the
    duplicated spans go, the rest stays); drop classes retain nothing.
    Rides the memoized coverage + verdict stages; the report is one
    aggregation over doc-level metadata."""
    from ..operators.span_dedup import retention_verdicts

    docs = _docs(spark, sf_dir)
    cov = _shared_span_coverage(spark, sf_dir).select(
        "doc_id", "n_tokens", "covered_tokens"
    )
    verdicts = retention_verdicts(
        docs,
        coverage=_shared_span_coverage(spark, sf_dir),
        drop_bp=_VERDICT_DROP_BP,
        trim_bp=_VERDICT_TRIM_BP,
    ).select("doc_id", "verdict")
    ledger = (
        docs.select("doc_id", "source")
        .join(verdicts, "doc_id")
        .join(cov, "doc_id")
        .withColumn(
            "tokens_kept",
            F.when(F.col("verdict") == "keep", F.col("n_tokens"))
            .when(
                F.col("verdict") == "trim_spans",
                F.col("n_tokens") - F.col("covered_tokens"),
            )
            .otherwise(F.lit(0)),
        )
    )
    return ledger.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("verdict") == "keep").cast("long")).cast("long").alias("n_keep"),
        F.sum((F.col("verdict") == "trim_spans").cast("long"))
        .cast("long")
        .alias("n_trim"),
        F.sum((F.col("verdict") == "drop_exact").cast("long"))
        .cast("long")
        .alias("n_drop_exact"),
        F.sum((F.col("verdict") == "drop_dup").cast("long"))
        .cast("long")
        .alias("n_drop_dup"),
        F.sum("n_tokens").cast("long").alias("tokens_before"),
        F.sum("tokens_kept").cast("long").alias("tokens_after"),
        (
            F.lit(10000)
            - F.expr("sum(tokens_kept) * 10000 div sum(n_tokens)")
        )
        .cast("long")
        .alias("tokens_saved_bp"),
    )


def _verdict_effects_sql() -> str:
    from ..operators.span_dedup import duplicate_span_coverage_oracle_sql

    cov = duplicate_span_coverage_oracle_sql(k=3, w=4, ext=10, max_df=8)
    return rf"""
WITH cov AS ({cov}),
fp AS (SELECT doc_id,
              md5(array_to_string(string_split_regex(trim(text), '\s+'), ' '))
                  AS fp
       FROM documents),
canon AS (SELECT fp, MIN(doc_id) AS canonical_id FROM fp GROUP BY 1),
v AS (SELECT f.doc_id,
             CASE WHEN f.doc_id <> c.canonical_id THEN 'drop_exact'
                  WHEN cov.coverage_bp >= {_VERDICT_DROP_BP} THEN 'drop_dup'
                  WHEN cov.coverage_bp >= {_VERDICT_TRIM_BP} THEN 'trim_spans'
                  ELSE 'keep' END AS verdict,
             cov.n_tokens, cov.covered_tokens
      FROM fp f JOIN canon c USING (fp) JOIN cov ON cov.doc_id = f.doc_id),
ledger AS (
    SELECT d.source, v.verdict, v.n_tokens,
           CASE WHEN v.verdict = 'keep' THEN v.n_tokens
                WHEN v.verdict = 'trim_spans' THEN v.n_tokens - v.covered_tokens
                ELSE 0 END AS tokens_kept
    FROM v JOIN documents d USING (doc_id))
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(SUM(CASE WHEN verdict = 'trim_spans' THEN 1 ELSE 0 END) AS BIGINT) AS n_trim,
       CAST(SUM(CASE WHEN verdict = 'drop_exact' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_exact,
       CAST(SUM(CASE WHEN verdict = 'drop_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_dup,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
       CAST(SUM(tokens_kept) AS BIGINT) AS tokens_after,
       CAST(10000 - SUM(tokens_kept) * 10000 // SUM(n_tokens) AS BIGINT) AS tokens_saved_bp
FROM ledger
GROUP BY 1
"""


QUERIES["corpus_verdict_effects"] = corpus_verdict_effects
ORACLES["corpus_verdict_effects"] = _verdict_effects_sql()


def embedding_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search — the production shape every
    vector store serves ("nearest neighbors WHERE label = X"): IVF probe
    with the label predicate applied INSIDE the inverted lists, exact
    integer-L2 rerank among surviving candidates, top-5 per query.
    Filtering shrinks each probed list, so recall per probe drops;
    production compensates by probing more lists — nprobe=4 here vs the
    unfiltered query's 2 (the standard filtered-search knob, cf. FAISS
    IVF + IDSelector).  At 100 TB the label becomes a partition column
    of the inverted lists, turning the filter into partition pruning.
    Shares the memoized coarse codebook; the label join is an equi-join
    on the already-bucketed candidates, never a scan of the corpus per
    query."""
    return _filtered_ann(spark, sf_dir, nprobe=4)


def _filtered_ann_inv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The labeled inverted file ``(neighbor_id, cv, cluster, label)``
    both ``_filtered_ann`` legs probe — the coarse assignment is a
    512-term literal distance expression per corpus row, so a consumer
    comparing two nprobe settings should encode the corpus once and
    probe twice (r13, guide §2.4; production reads a PERSISTED IVF
    index, it never re-encodes per query)."""
    from ..operators.ivf import ivf_assign

    emb = _emb(spark, sf_dir)
    centroids = _shared_ivf_centroids(spark, sf_dir)
    return ivf_assign(emb, centroids).join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    )


def _filtered_ann(
    spark: SparkSession, sf_dir: str, nprobe: int, inv: DataFrame | None = None
) -> DataFrame:
    from ..operators.ivf import _probe_clusters, ivf_assign, sq_dist

    emb = _emb(spark, sf_dir)
    centroids = _shared_ivf_centroids(spark, sf_dir)
    if inv is None:
        inv = _filtered_ann_inv(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    probes = _probe_clusters(
        queries, centroids, nprobe, "vec_id", "embedding"
    ).join(
        emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")),
        "query_id",
    )
    cands = inv.join(F.broadcast(probes), "cluster").filter(
        (F.col("neighbor_id") != F.col("query_id"))
        & (F.col("label") == F.col("qlabel"))
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.col("label").cast("long").alias("label"),
        sq_dist(F.col("qv"), F.col("cv")).alias("dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= 5)


def _filtered_ann_sql(nprobe: int = 4) -> str:
    from ..operators.ivf import _oracle_dist, ivf_cte_body

    dist = _oracle_dist(EMB_DIM)
    body, final_c = ivf_cte_body(k=8, iters=2, dim=EMB_DIM)
    return f"""
WITH {body},
probes AS (SELECT query_id, qv2 AS qv, cid AS cluster FROM (
        SELECT q.vec_id AS query_id, q.v AS qv2, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY {dist('q.v', 'c.v')}, c.cid) AS rn
        FROM (SELECT * FROM qv WHERE vec_id < 20) q
        CROSS JOIN {final_c} c) WHERE rn <= {nprobe}),
scored AS (SELECT p.query_id, i.neighbor_id,
                  CAST(en.label AS BIGINT) AS label,
                  {dist('p.qv', 'i.cv')} AS dist
           FROM probes p
           JOIN inv i ON p.cluster = i.cluster
           JOIN embeddings en ON en.vec_id = i.neighbor_id
           JOIN embeddings eq ON eq.vec_id = p.query_id
           WHERE i.neighbor_id <> p.query_id AND en.label = eq.label)
SELECT query_id, neighbor_id, label, dist,
       CAST(rn AS BIGINT) AS rank
FROM (SELECT query_id, neighbor_id, label, dist,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor_id) AS rn
      FROM scored)
WHERE rn <= 5
"""


QUERIES["embedding_filtered_ann"] = embedding_filtered_ann
ORACLES["embedding_filtered_ann"] = _filtered_ann_sql()


_PACK_BUDGET_SWEEP = (128, 256, 512)


def doc_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency sweep over candidate context lengths — the
    report that decides a training run's sequence budget: for each
    budget (128/256/512 tokens), how many packs the sharded greedy
    packer produces, the fill ratio in basis points (can exceed 10000:
    pack_by_token_budget's documented overflow-at-boundary semantics let
    a pack run over by at most one chunk tail), and chunks per pack.

    One pass: the exclusive running token sum inside each of the 64
    hash shards is BUDGET-INDEPENDENT, so the sweep computes it once,
    explodes the budget array, and derives every assignment as
    ``excl div budget`` — exactly pack_by_token_budget's
    ``floor(excl/budget)`` at each budget (integer ``div`` of
    non-negative longs; doc_pack_assignments pins the single-budget
    form).  Costs one window exchange + a 3x fan-out of chunk rows."""
    from ..operators.sampling import hash_bucket
    from ..operators.text import chunk_token_windows

    chunks = chunk_token_windows(
        _docs(spark, sf_dir), chunk_size=32, stride=24
    ).withColumn("pack_shard", hash_bucket(F.col("doc_id"), "pack", _PACK_SHARDS))
    w = (
        Window.partitionBy("pack_shard")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    excl = (F.sum("n_chunk_tokens").over(w) - F.col("n_chunk_tokens")).alias(
        "excl"
    )
    c = chunks.select("pack_shard", "n_chunk_tokens", excl)
    sweep = c.select(
        "*",
        F.explode(
            F.array(*[F.lit(b).cast("long") for b in _PACK_BUDGET_SWEEP])
        ).alias("budget"),
    ).withColumn("pack_id", F.expr("excl div budget"))
    per_shard = sweep.groupBy("budget", "pack_shard").agg(
        (F.max("pack_id") + 1).alias("packs"),
        F.sum("n_chunk_tokens").alias("toks"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_shard.groupBy("budget").agg(
        F.sum("n").cast("long").alias("n_chunks"),
        F.sum("packs").cast("long").alias("n_packs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.expr("sum(toks) * 10000 div (sum(packs) * budget)")
        .cast("long")
        .alias("fill_bp"),
        F.expr("sum(n) * 1000 div sum(packs)")
        .cast("long")
        .alias("chunks_per_pack_milli"),
    )


def _pack_efficiency_sql() -> str:
    chunk = _CHUNK_WINDOWS_SQL.strip().rstrip(";")
    shard = (
        f"(('0x' || substr(md5('pack:' || doc_id), 1, 15))::BIGINT"
        f" % {_PACK_SHARDS})"
    )
    budgets = ", ".join(f"{b}::BIGINT" for b in _PACK_BUDGET_SWEEP)
    return f"""
WITH chunks AS ({chunk}),
s AS (
    SELECT doc_id, chunk_idx, n_chunk_tokens,
           {shard} AS pack_shard
    FROM chunks
),
c AS (
    SELECT pack_shard, n_chunk_tokens,
           SUM(n_chunk_tokens) OVER (PARTITION BY pack_shard
               ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_chunk_tokens AS excl
    FROM s
),
sweep AS (
    SELECT pack_shard, n_chunk_tokens, b.budget,
           excl // b.budget AS pack_id
    FROM c, (SELECT unnest([{budgets}]) AS budget) b
),
per_shard AS (
    SELECT budget, pack_shard, MAX(pack_id) + 1 AS packs,
           SUM(n_chunk_tokens) AS toks, COUNT(*) AS n
    FROM sweep GROUP BY 1, 2
)
SELECT budget,
       CAST(SUM(n) AS BIGINT) AS n_chunks,
       CAST(SUM(packs) AS BIGINT) AS n_packs,
       CAST(SUM(toks) AS BIGINT) AS total_tokens,
       CAST(SUM(toks) * 10000 // (SUM(packs) * budget) AS BIGINT) AS fill_bp,
       CAST(SUM(n) * 1000 // SUM(packs) AS BIGINT) AS chunks_per_pack_milli
FROM per_shard
GROUP BY 1
"""


QUERIES["doc_pack_efficiency"] = doc_pack_efficiency
ORACLES["doc_pack_efficiency"] = _pack_efficiency_sql()


def embedding_dim_variance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION moment audit of the embedding corpus — the
    vector-store ingestion diagnostic read before choosing PQ subspaces
    or truncation dims: for each of the 64 dimensions, the count, the
    integer mean, and an integer variance of the fixed-point (×10⁶)
    values.  Dead or near-constant dimensions (var_q ≈ 0) waste PQ
    codebook capacity and matryoshka prefix budget; wildly unequal
    variances argue for OPQ-style rebalancing before subspace splits.

    Integer discipline: ``mean_q = Σv div n`` and ``var_q = (Σv² div n)
    − (Σv div n)²`` — the floor-divided moment form, replayed verbatim
    by the oracle (documented approximation: floors before the subtract,
    exact to < 1 fixed-point ulp², which is 10⁻¹² in float units —
    diagnostic-grade).  Σv² at sf1 is ≤ 2·10⁵ rows × (6·10⁵)² ≈ 7·10¹⁶,
    inside int64.  Plan: one posexplode projection + a 64-group
    aggregate; no joins, no window."""
    from ..operators.ivf import quantize

    emb = _emb(spark, sf_dir)
    v = emb.select(
        F.posexplode(quantize(F.col("embedding"))).alias("dim0", "v")
    )
    return (
        v.groupBy((F.col("dim0") + 1).cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("v").alias("sv"),
            F.sum(F.col("v") * F.col("v")).alias("svv"),
        )
        .select(
            "dim",
            "n_vecs",
            F.expr("sv div n_vecs").cast("long").alias("mean_q"),
            F.expr("svv div n_vecs - (sv div n_vecs) * (sv div n_vecs)")
            .cast("long")
            .alias("var_q"),
        )
    )


def _dim_variance_sql() -> str:
    return f"""
WITH v AS (
    SELECT i AS dim,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
    FROM embeddings, (SELECT unnest(range(1, {EMB_DIM + 1})) AS i) r
),
m AS (
    SELECT dim, COUNT(*) AS n_vecs, SUM(v) AS sv, SUM(v * v) AS svv
    FROM v GROUP BY 1
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(n_vecs AS BIGINT) AS n_vecs,
       CAST(sv // n_vecs AS BIGINT) AS mean_q,
       CAST(svv // n_vecs - (sv // n_vecs) * (sv // n_vecs) AS BIGINT) AS var_q
FROM m
"""


QUERIES["embedding_dim_variance_audit"] = embedding_dim_variance_audit
ORACLES["embedding_dim_variance_audit"] = _dim_variance_sql()


def embedding_filtered_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does probe COMPENSATION pay for the filter?  The audit behind
    embedding_filtered_ann's nprobe=4 choice: per query, the exact
    same-label integer-L2 top-5 (the filtered truth) and how many of
    those five the filtered IVF path recovers at nprobe=2 (the
    unfiltered operating point) vs nprobe=4 (the compensated one) —
    ``(query_id, n_exact, hits_np2, hits_np4)``.  Label filtering
    shrinks every probed list, so holding nprobe fixed silently cuts
    candidate count; this table is the evidence the extra probes buy
    the recall back.  The exact leg is the sanctioned 20-row
    broadcast-query-panel BNLJ (cosine_topk precedent); both IVF legs
    are bucketed equi-joins."""
    from ..operators.ivf import exact_sq_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    # exact same-label ground truth as ONE vectorized corpus pass with
    # per-batch partial top-5 (r13, guide §3/§4.2) — replaces the
    # 20×-corpus broadcast-NLJ + full rank window; row-identical
    # (exactness argument on operators/ivf.exact_sq_topk; oracle
    # unchanged)
    # three consumers (n_ex, h2, h4) — without the pin the exact
    # pass re-executes per consumer (guide §2.4); the pin is <= 100
    # (query_id, neighbor_id) rows
    exact5 = pin(
        exact_sq_topk(emb, queries, k=5, label_col="label")
    )
    # both nprobe legs probe the SAME labeled inverted file — encode the
    # corpus once (the pin IS the persisted IVF index a production
    # deployment reads; the query's scope releases it) instead of once
    # per leg (r13, guide §2.4)
    inv = pin(_filtered_ann_inv(spark, sf_dir))
    np2 = _filtered_ann(spark, sf_dir, nprobe=2, inv=inv).select(
        "query_id", "neighbor_id"
    )
    np4 = _filtered_ann(spark, sf_dir, nprobe=4, inv=inv).select(
        "query_id", "neighbor_id"
    )
    n_ex = exact5.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    h2 = (
        np2.join(exact5, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hits_np2"))
    )
    h4 = (
        np4.join(exact5, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hits_np4"))
    )
    return (
        n_ex.join(h2, "query_id", "left")
        .join(h4, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("hits_np2", F.lit(0)).cast("long").alias("hits_np2"),
            F.coalesce("hits_np4", F.lit(0)).cast("long").alias("hits_np4"),
        )
    )


def _filtered_ann_recall_sql() -> str:
    from ..operators.ivf import QUANT, _oracle_dist

    dist = _oracle_dist(EMB_DIM)
    np2 = _filtered_ann_sql(nprobe=2)
    np4 = _filtered_ann_sql(nprobe=4)
    return f"""
WITH np2 AS ({np2}), np4 AS ({np4}),
qq AS (SELECT vec_id, label, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS v
       FROM embeddings),
ex AS (SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY {dist('q.v', 'c.v')}, c.vec_id) AS rn
        FROM (SELECT * FROM qq WHERE vec_id < 20) q
        JOIN qq c ON c.label = q.label AND c.vec_id <> q.vec_id) WHERE rn <= 5),
ne AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY 1),
h2 AS (SELECT s.query_id, COUNT(*) AS hits_np2
       FROM np2 s JOIN ex USING (query_id, neighbor_id) GROUP BY 1),
h4 AS (SELECT s.query_id, COUNT(*) AS hits_np4
       FROM np4 s JOIN ex USING (query_id, neighbor_id) GROUP BY 1)
SELECT ne.query_id,
       CAST(ne.n_exact AS BIGINT) AS n_exact,
       CAST(COALESCE(h2.hits_np2, 0) AS BIGINT) AS hits_np2,
       CAST(COALESCE(h4.hits_np4, 0) AS BIGINT) AS hits_np4
FROM ne LEFT JOIN h2 USING (query_id) LEFT JOIN h4 USING (query_id)
"""


QUERIES["embedding_filtered_ann_recall"] = embedding_filtered_ann_recall
ORACLES["embedding_filtered_ann_recall"] = _filtered_ann_recall_sql()


_DEDUP_THRESHOLDS_BP = (3000, 5000, 7000)


def corpus_dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How the near-dup graph responds to the Jaccard threshold — the
    one-pass report that picks a dedup operating point before anyone
    pays for clustering: for each candidate cut (0.30 / 0.50 / 0.70 in
    basis points), the surviving edge count, how many documents carry at
    least one edge (the upper bound on docs dedup can touch), and the
    maximum per-doc degree (the skew signal — a degree spike at a low
    threshold is the boilerplate cluster that will glue everything into
    one component).  The pair base (shared counts + set sizes) is
    threshold-INDEPENDENT, so the sweep is one explode over the
    session-memoized pair table; edge rule per threshold is the integer
    basis-point floor ``shared·10000 div union >= t_bp``
    (dedup_cluster_quality's documented discipline)."""
    base = _shared_pair_base(spark, sf_dir)
    jbp = F.expr("shared * 10000 div (n_a + n_b - shared)")
    sweep = (
        base.withColumn("jbp", jbp)
        .select(
            "id_a",
            "id_b",
            "jbp",
            F.explode(
                F.array(*[F.lit(t).cast("long") for t in _DEDUP_THRESHOLDS_BP])
            ).alias("threshold_bp"),
        )
        .filter(F.col("jbp") >= F.col("threshold_bp"))
    )
    ends = sweep.select("threshold_bp", F.col("id_a").alias("doc_id")).unionByName(
        sweep.select("threshold_bp", F.col("id_b").alias("doc_id"))
    )
    deg = ends.groupBy("threshold_bp", "doc_id").agg(
        F.count(F.lit(1)).alias("degree")
    )
    per_t = deg.groupBy("threshold_bp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_with_edge"),
        F.max("degree").cast("long").alias("max_degree"),
    )
    edges = sweep.groupBy("threshold_bp").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )
    return edges.join(per_t, "threshold_bp").select(
        "threshold_bp", "n_edges", "n_docs_with_edge", "max_degree"
    )


def _threshold_sensitivity_sql() -> str:
    thresholds = ", ".join(f"{t}::BIGINT" for t in _DEDUP_THRESHOLDS_BP)
    return rf"""
WITH ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh_all AS (
    SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM ws) WHERE s IS NOT NULL AND s <> ''
),
-- pair legs ride the NGRAM_MAX_DOC_FREQ stop-shingle cap (r12 rollout),
-- replaying _shared_pair_base's doc-frequency filter exactly
sh AS (SELECT doc_id, h FROM sh_all
       WHERE h IN (SELECT h FROM sh_all GROUP BY h
                   HAVING COUNT(*) <= {NGRAM_MAX_DOC_FREQ})),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jp AS (
    SELECT id_a, id_b,
           shared * 10000 // (sa.n_sh + sb.n_sh - shared) AS jbp
    FROM shared
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
),
sweep AS (
    SELECT id_a, id_b, t.threshold_bp
    FROM jp, (SELECT unnest([{thresholds}]) AS threshold_bp) t
    WHERE jbp >= t.threshold_bp
),
ends AS (
    SELECT threshold_bp, id_a AS doc_id FROM sweep
    UNION ALL
    SELECT threshold_bp, id_b FROM sweep
),
deg AS (SELECT threshold_bp, doc_id, COUNT(*) AS degree FROM ends GROUP BY 1, 2)
SELECT e.threshold_bp,
       CAST(e.n_edges AS BIGINT) AS n_edges,
       CAST(d.n_docs_with_edge AS BIGINT) AS n_docs_with_edge,
       CAST(d.max_degree AS BIGINT) AS max_degree
FROM (SELECT threshold_bp, COUNT(*) AS n_edges FROM sweep GROUP BY 1) e
JOIN (SELECT threshold_bp, COUNT(*) AS n_docs_with_edge,
             MAX(degree) AS max_degree
      FROM deg GROUP BY 1) d USING (threshold_bp)
"""


QUERIES["corpus_dedup_threshold_sensitivity"] = corpus_dedup_threshold_sensitivity
ORACLES["corpus_dedup_threshold_sensitivity"] = _threshold_sensitivity_sql()


def corpus_source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH sources duplicate WHICH — the provenance risk matrix a
    corpus owner reads before licensing review: for every unordered pair
    of `documents.source` values (self-pairs included), the number of
    near-dup edges (Jaccard >= 0.5, the cluster edge rule) crossing
    them and the mean edge similarity in basis points.  A heavy
    off-diagonal cell is one source republishing another — exactly the
    contamination path that silently leaks eval data between splits cut
    by source.  Rides the memoized pair base; the matrix is one
    aggregation over edge rows joined to doc-level metadata (at 100 TB
    the source column travels with the pair base, making this a pure
    map-side fold)."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    base = _shared_pair_base(spark, sf_dir)
    edges = base.withColumn(
        "jbp", F.expr("shared * 10000 div (n_a + n_b - shared)")
    ).filter(F.col("jbp") >= 5000)
    e2 = (
        edges.join(docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")), "id_a")
        .join(docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")), "id_b")
        .select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
            "jbp",
        )
    )
    return e2.groupBy("source_x", "source_y").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.expr("sum(jbp) div count(*)").cast("long").alias("mean_jbp"),
    )


def _contamination_matrix_sql() -> str:
    return rf"""
WITH ws AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh_all AS (
    SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM ws) WHERE s IS NOT NULL AND s <> ''
),
-- pair legs ride the NGRAM_MAX_DOC_FREQ stop-shingle cap (r12 rollout),
-- replaying _shared_pair_base's doc-frequency filter exactly
sh AS (SELECT doc_id, h FROM sh_all
       WHERE h IN (SELECT h FROM sh_all GROUP BY h
                   HAVING COUNT(*) <= {NGRAM_MAX_DOC_FREQ})),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
edges AS (
    SELECT id_a, id_b,
           shared * 10000 // (sa.n_sh + sb.n_sh - shared) AS jbp
    FROM shared
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE shared * 10000 // (sa.n_sh + sb.n_sh - shared) >= 5000
),
e2 AS (
    SELECT LEAST(da.source, db.source) AS source_x,
           GREATEST(da.source, db.source) AS source_y,
           e.jbp
    FROM edges e
    JOIN documents da ON da.doc_id = e.id_a
    JOIN documents db ON db.doc_id = e.id_b
)
SELECT source_x, source_y,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(jbp) // COUNT(*) AS BIGINT) AS mean_jbp
FROM e2
GROUP BY 1, 2
"""


QUERIES["corpus_source_contamination_matrix"] = corpus_source_contamination_matrix
ORACLES["corpus_source_contamination_matrix"] = _contamination_matrix_sql()


# ---------------------------------------------------------------------------
# Curriculum ordering — the data-scheduling verb between "curated corpus"
# and "training shards": docs are decile-bucketed by a lexical-diversity
# quality proxy, and each training epoch sees a GROWING bucket prefix
# (epoch 1 = top 4 deciles, epoch 2 = top 7, epoch 3 = all) with the
# within-epoch order ROUND-ROBIN interleaved across the visible buckets —
# the standard anti-clumping curriculum (easy-first growth, no quality
# streaks).  Scale posture: the quality score is an INTEGER in [0, 10000],
# so the global decile rank is derived WITHOUT a global sort — a bounded
# value histogram (<= 10001 rows; graph_components_knn precedent) carries
# the cumulative counts, a per-score partitioned row_number breaks ties by
# doc_id, and NTILE is replayed in closed form from (rank, n).  The epoch
# expansion is an explode over a static 3-entry schedule, not a non-equi
# join.  At 100 TB: one bounded-aggregate window + equi-joins only.
# ---------------------------------------------------------------------------

_CURR_SCHEDULE = ((1, 4), (2, 7), (3, 10))  # (epoch, visible bucket prefix)
_CURR_K = 10  # decile buckets

# Closed-form SQL-standard NTILE(K) from (grank, n_total): first n%K
# buckets hold ceil(n/K) rows.  Shared verbatim (modulo // vs div) with
# the DuckDB oracle so both engines replay the identical arithmetic.


def _ntile_exprs(k: int, intdiv: str) -> tuple[str, str]:
    q = f"(n_total {intdiv} {k})"
    r = f"(n_total % {k})"
    big_span = f"({r} * ({q} + 1))"
    bucket = (
        f"CASE WHEN {q} = 0 THEN grank "
        f"WHEN grank <= {big_span} THEN (grank - 1) {intdiv} ({q} + 1) + 1 "
        f"ELSE {r} + (grank - {big_span} - 1) {intdiv} {q} + 1 END"
    )
    start = (
        f"CASE WHEN {q} = 0 THEN grank "
        f"WHEN grank <= {big_span} "
        f"THEN ((grank - 1) {intdiv} ({q} + 1)) * ({q} + 1) + 1 "
        f"ELSE {big_span} + ((grank - {big_span} - 1) {intdiv} {q}) * {q} + 1 END"
    )
    return bucket, start


_NTILE_BUCKET_EXPR, _NTILE_START_EXPR = _ntile_exprs(_CURR_K, "div")
_NTILE_BUCKET_SQL, _NTILE_START_SQL = _ntile_exprs(_CURR_K, "//")


def _sched_case() -> str:
    parts = []
    for _, mb in sorted(_CURR_SCHEDULE, key=lambda t: t[1]):
        entries = ", ".join(
            "named_struct('epoch', %d, 'mb', %d)" % (e2, mb2)
            for e2, mb2 in _CURR_SCHEDULE
            if mb2 >= mb
        )
        parts.append("WHEN bucket <= %d THEN array(%s)" % (mb, entries))
    return "CASE " + " ".join(parts) + " END"


_CURR_SCHED_CASE = _sched_case()


def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-epoch growing-prefix curriculum over quality deciles with
    round-robin bucket interleaving.  Output: epoch, doc_id, bucket,
    pos (deterministic within-epoch training position)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "").alias("w"),
    )
    scored = toks.selectExpr(
        "doc_id",
        "size(array_distinct(w)) * 10000 div greatest(size(w), 1) AS score_bp",
    )
    # Bounded value histogram of the integer score: cumulative count of
    # strictly-better scores + corpus total, both over <= 10001 rows.
    hist = scored.groupBy("score_bp").agg(F.count(F.lit(1)).alias("c"))
    hw = Window.orderBy(F.col("score_bp").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    nw = Window.orderBy(F.col("score_bp").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    hist = hist.select(
        "score_bp",
        F.coalesce(F.sum("c").over(hw), F.lit(0)).alias("cum_before"),
        F.sum("c").over(nw).alias("n_total"),
    )
    # Tie-break within equal scores: row_number partitioned BY SCORE.
    sw = Window.partitionBy("score_bp").orderBy("doc_id")
    ranked = (
        scored.withColumn("rn_s", F.row_number().over(sw))
        .join(hist, "score_bp")
        .withColumn("grank", F.expr("cum_before + rn_s"))
    )
    # Closed-form NTILE(K) over (grank, n): first n%K buckets get
    # ceil(n/K) rows — bit-identical to the SQL-standard NTILE the
    # oracle replays from ROW_NUMBER.
    bucketed = ranked.selectExpr(
        "doc_id",
        "grank",
        _NTILE_BUCKET_EXPR + " AS bucket",
        _NTILE_START_EXPR + " AS bucket_start",
    )
    exploded = bucketed.select(
        "doc_id",
        "bucket",
        F.expr("grank - bucket_start + 1").alias("rwb"),
        F.explode(F.expr(_CURR_SCHED_CASE)).alias("sch"),
    )
    return exploded.select(
        F.col("sch.epoch").cast("int").alias("epoch"),
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        F.expr("cast((rwb - 1) * sch.mb + bucket - 1 as bigint)").alias("pos"),
    )


def _curriculum_sql() -> str:
    sched_rows = ", ".join(f"({e}, {mb})" for e, mb in _CURR_SCHEDULE)
    return rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
    FROM documents
),
scored AS (
    SELECT doc_id,
           len(list_distinct(w)) * 10000 // GREATEST(len(w), 1) AS score_bp
    FROM toks
),
ranked AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score_bp DESC, doc_id) AS grank,
           COUNT(*) OVER () AS n_total
    FROM scored
),
bucketed AS (
    SELECT doc_id, grank,
           {_NTILE_BUCKET_SQL} AS bucket,
           {_NTILE_START_SQL} AS bucket_start
    FROM ranked
),
sched(epoch, max_bucket) AS (VALUES {sched_rows})
SELECT CAST(epoch AS INT) AS epoch, doc_id, CAST(bucket AS INT) AS bucket,
       CAST((grank - bucket_start) * max_bucket + bucket - 1 AS BIGINT) AS pos
FROM bucketed JOIN sched ON bucket <= max_bucket
"""


QUERIES["corpus_curriculum_order"] = corpus_curriculum_order
ORACLES["corpus_curriculum_order"] = _curriculum_sql()


# ---------------------------------------------------------------------------
# Cluster-aware shard assignment — the leakage-safe sharding a training
# pipeline uses AFTER dedup keeps near-dup survivors: routing every member
# of a near-dup cluster to the SAME shard guarantees (a) a later
# shard-local dedup/packing pass still sees the whole cluster and (b) a
# shard-cut train/eval split can never place two near-duplicates on
# opposite sides (corpus_split_leakage measures exactly that failure).
# Shard = md5(cluster representative) % 8 — clusters land whole, and the
# report aggregates per shard so balance is auditable.  Rides the
# session-memoized connected-components labels (_shared_clusters).
# ---------------------------------------------------------------------------

_CS_SHARDS = 8


def corpus_cluster_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard audit of cluster-aware sharding: every doc routed by
    md5(cluster_id) % 8.  Output: shard, n_docs, n_clusters, chars_total."""
    labels = _shared_clusters(spark, sf_dir, threshold=0.5)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    routed = labels.join(docs, "doc_id").select(
        (
            F.conv(
                F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 15), 16, 10
            ).cast("long")
            % _CS_SHARDS
        ).alias("shard"),
        "cluster_id",
        "n_chars",
    )
    return routed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )


def _cluster_sharding_sql() -> str:
    clusters = _clusters_sql().strip()
    return rf"""
WITH clusters AS ({clusters}),
routed AS (
    SELECT ('0x' || substr(md5(CAST(c.cluster_id AS VARCHAR)), 1, 15))::BIGINT
               % {_CS_SHARDS} AS shard,
           c.cluster_id, d.n_chars
    FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total
FROM routed
GROUP BY 1
"""


QUERIES["corpus_cluster_sharding"] = corpus_cluster_sharding
ORACLES["corpus_cluster_sharding"] = _cluster_sharding_sql()
