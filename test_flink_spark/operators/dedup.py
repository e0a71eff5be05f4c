"""Deduplication operators (north-star, BASELINE.json): exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design (the whole point of these operators at 100 TB):
- exact dedup: one hash-groupBy on a fingerprint — the cheapest possible
  shuffle key (16-byte md5, not the document body);
- n-gram Jaccard: NEVER all-pairs — candidate pairs come from an inverted
  shingle index (self-join on shingle), so cost is Σ bucket², bounded by
  shingle selectivity, not n²;
- MinHash+LSH: signatures shrink each doc to k ints; banding turns near-dup
  search into an equality join on band keys — the only all-pairs work left
  is within tiny buckets.  Probability a pair with Jaccard j collides:
  1-(1-j^r)^b (r rows/band, b bands);
- SimHash: 32-bit locality-sensitive hash — near-dups differ in few bits;
  bucket on the hash (or hash prefixes) for candidate generation;
- embedding near-dup: cosine threshold over LSH/bucketed candidates
  (see similarity.py); the brute-force form here is the small-side oracle.

All hashes are md5-derived → engine-independent, so the DuckDB oracle can
reproduce signatures bit-for-bit (plans/llm_data.py).
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import pin, pins
from .fanout import fan_out
from .text import let, word_ngrams, words


def _h60(col: Column) -> Column:
    """Deterministic 60-bit hash: first 15 hex chars of md5 → BIGINT.
    Engine-independent (DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# Mersenne prime 2^31−1: keeps a·h+b below 2^62 (no int64/ANSI overflow)
# while staying engine-portable integer arithmetic.
MINHASH_MOD = 2147483647

# Production default for the stop-shingle cap on EXACT n-gram pair
# generation (ngram_jaccard_pairs / containment_pairs / duplicate_clusters
# and the plans-level shared pair base): a shingle appearing in f
# documents contributes f^2 candidate pairs through the inverted-index
# equi-join, so boilerplate shingles (headers, licenses) make the join
# bill quadratic in corpus size — the one measured scale-killer of the
# r11 sf10 (100x) probes.  With the cap, every kept key's bucket is
# <= 256 rows and the bill is bounded by n_keys * C(256, 2) no matter the
# corpus shape.  256 is deliberately ABOVE the maximum per-shingle doc
# frequency of every certified fixture (measured: sf0.01 = 7, sf0.1 = 25,
# sf1 = 135), so capped output is bit-identical to the attested runs
# there.  At sf10 the synthetic corpus SATURATES its 31-word-vocab
# shingle space (29,791 distinct trigrams, df 257..1042 for every one):
# the capped pair set is empty by construction while the uncapped bill is
# 11.4e9 join pairs (the r11 task-loss).  That saturation is the
# fixture's pathology, not the operator's: real corpora grow shingle
# diversity with size (Heaps' law), so the cap prunes only true
# boilerplate; on a saturated corpus even the TRUE near-dup pair count is
# quadratic and NO exact pair algorithm can be sub-quadratic — the
# at-scale production path there is the banded MinHash-LSH geometry
# (minhash_lsh_pairs, sf10-green), with exact pair-gen reserved for
# bounded strata.  See BASELINE.md r12 notes for the measured df tables.
# Pass max_doc_freq=None for the exact uncapped form (audit harnesses on
# bounded strata only).
NGRAM_MAX_DOC_FREQ = 256


def minhash_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_p, b_p) pairs for the affine permutations, derived
    from md5 so any engine reproduces them (a must be non-zero)."""
    import hashlib

    out = []
    for p in range(num_perm):
        a = int(hashlib.md5(f"minhash-a:{p}".encode()).hexdigest()[:8], 16) % (MINHASH_MOD - 1) + 1
        b = int(hashlib.md5(f"minhash-b:{p}".encode()).hexdigest()[:8], 16) % MINHASH_MOD
        out.append((a, b))
    return out


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document.  Narrow explode — the
    follow-on operators own their shuffles."""
    # Fan out first: a single-file parquet corpus arrives as ONE partition,
    # and everything downstream (md5 per shingle, minhash aggs, index joins)
    # is compute-bound — spread it across the cluster before the explode.
    df = fan_out(df)
    grams = word_ngrams(F.col(text_col), n)
    return (
        df.select(F.col(id_col), F.explode(grams).alias("shingle"))
        .filter(F.col("shingle") != "")
        .dropDuplicates([id_col, "shingle"])
    )


def shingle_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document DISTINCT 60-bit shingle hashes: ``(id_col, h)``.

    The scale-critical sibling of ``shingles()``: hash every stride-1
    window inside the row's own array and ``array_distinct`` BEFORE the
    explode, so per-doc distinctness costs no exchange and nothing larger
    than an 8-byte int ever leaves the map side.  ``shingles()`` +
    dropDuplicates shuffles the full n-gram STRINGS (~8·n bytes each) —
    fine when the caller needs the text (top-bigrams), wrong for every
    hash-keyed consumer (jaccard index, minhash, span/containment dedup).

    Dedup key is the hash, not the string: a 60-bit collision within one
    document would merge two shingles.  That convention is shared with the
    DuckDB oracles (their DISTINCT is on the same md5-derived int), so the
    differential gate checks the exact semantics shipped here."""
    df = fan_out(df)
    grams = F.filter(word_ngrams(F.col(text_col), n), lambda s: s != "")
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.transform(grams, _h60))).alias("h"),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via md5-of-normalized-text fingerprint: one groupBy on the
    16-byte key; canonical row = min id (deterministic)."""
    norm = F.array_join(words(F.col(text_col)), " ")
    fp = df.select(F.col(id_col), F.md5(norm).alias("fp_md5"))
    return fp.groupBy("fp_md5").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def capped_shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: int | None = NGRAM_MAX_DOC_FREQ,
) -> DataFrame:
    """The shingle index of the exact pair operators: ``shingle_hashes``
    minus every shingle found in more than ``max_doc_freq`` documents,
    pinned (``session.pin``: the enclosing scope releases it).
    ``max_doc_freq=None`` returns the uncapped, unpinned ``shingle_hashes``.

    The key is the 60-bit HASH, not the n-gram string: the inverted-index
    self-join is the dominant exchange, and an 8-byte int key shuffles
    ~3-6x fewer bytes than ~8·n-char text.  The oracles' DISTINCT/join run
    on the same md5-derived int (hash-collision semantics are the shipped
    spec, as everywhere in this family)."""
    sh = shingle_hashes(df, text_col, id_col, n)
    if max_doc_freq is None:
        return sh
    # Anti-join against the HOT set, not a semi-join on the kept set: kept
    # shingles are ~all distinct shingles (unbroadcastable at 100 TB), while
    # shingles over the cap are bounded by total_occurrences/cap — a small
    # table Catalyst/AQE broadcasts on its own.  The df groupBy is one
    # map-side-combined linear pass.
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df_"))
    hot = freq.filter(F.col("df_") > max_doc_freq).select("h")
    # Pin the CAPPED shingle table, not just the hot set: three plan
    # branches read it (sizes + both self-join sides), and without a
    # materialization each branch re-runs the shingle pass, the freq
    # aggregation and the anti-join — four corpus passes per query
    # (measured: the shared dedup stage tripled when the r12 cap rollout
    # pinned only `hot`).  Its lifetime: docs/DESIGN_DECISIONS.md, "Pin
    # ownership".
    return pin(sh.join(hot, "h", "left_anti"))


def shingle_overlaps(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Inverted-index self-join of a shingle index ``(id_col, h)``: one row
    ``(id_b, id_a, shared, n_a, n_b)`` per document pair (id_a < id_b)
    sharing at least one shingle — ``shared`` distinct common shingles,
    ``n_a``/``n_b`` each side's shingle count.  Pairs come only from
    shared keys, never a cross join: the cost is Σ bucket², which the
    stop-shingle cap bounds."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return shared.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = NGRAM_MAX_DOC_FREQ,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    Inverted-index join: pairs are generated only for documents sharing at
    least one shingle, then J = |∩| / (|A|+|B|-|∩|) is computed from shared
    counts — no n² cross join.

    ``max_doc_freq`` is the stop-shingle cap for 100 TB corpora: a shingle
    appearing in f documents contributes f² join pairs, so boilerplate
    shingles (headers, licenses) blow the index join up quadratically.
    Capping drops them from candidate generation AND the Jaccard sets
    (slight under-count for docs sharing only boilerplate — exactly the
    pairs you don't want).  Default NGRAM_MAX_DOC_FREQ = 256 (the r12 cap
    rollout: the registered queries' oracles replay the cap with the same
    doc-frequency filter, and the cap cannot bind below sf10 on the
    certified fixtures — see the constant's docstring).  None = exact
    uncapped (bounded audit strata only; quadratic under hot shingles).
    The capped index is pinned in the caller's scope.
    """
    sh = capped_shingle_hashes(df, text_col, id_col, n, max_doc_freq)
    out = shingle_overlaps(sh, id_col).select(
        "id_a",
        "id_b",
        F.round(
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4
        ).alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_bp: int = 5000,
    max_doc_freq: int | None = NGRAM_MAX_DOC_FREQ,
) -> DataFrame:
    """Near-duplicate pairs by n-gram CONTAINMENT — the asymmetric
    companion to Jaccard (Broder's resemblance vs containment split):
    containment = |A∩B| / min(|A|, |B|) flags a SHORT document subsumed
    by a long one (quote farms, boilerplate wrappers, excerpt pages),
    exactly the pairs Jaccard misses because the length difference
    drowns the union term.  LLM-corpus use: drop the contained side,
    keep the superset document.

    Same inverted-index shape as ngram_jaccard_pairs (shared shingle
    index join, never all-pairs; ``max_doc_freq`` is the same quadratic
    stop-shingle guard) and the same 60-bit-hash key discipline.
    Integer-exact: containment_bp = shared·10⁴ div min(|A|,|B|) — no
    float crosses the engine boundary.

    Returns (id_a, id_b, n_a, n_b, shared, containment_bp) with
    id_a < id_b and containment_bp >= threshold_bp, pinned so the capped
    shingle index can be released: the result is the one pin the call
    hands to its caller.
    """
    with pins() as p:
        sh = capped_shingle_hashes(df, text_col, id_col, n, max_doc_freq)
        out = shingle_overlaps(sh, id_col).select(
            "id_a",
            "id_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("shared").cast("long").alias("shared"),
            F.expr("(shared * 10000) div least(n_a, n_b)").alias(
                "containment_bp"
            ),
        )
        return p.returning(pin(out.filter(F.col("containment_bp") >= threshold_bp)))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures with affine permutations: ONE md5 per shingle
    (the expensive part), then num_perm cheap universal-hash transforms
    h_p = (a_p·h + b_p) mod M over the base hash — the classic
    a·x+b construction, ~16× cheaper than num_perm independent md5s.

    Shuffle profile: NONE — the signature is a pure per-doc function, so
    it runs as one Arrow map pass over (id, text) (guide §4.2; see the
    inline comment).  The two retained reference forms:
    ``_minhash_signatures_agg`` (explode + Tungsten min-aggregates — the
    pre-r12 batch path, one exchange of partial mins) and the shuffle-free
    ``minhash_signature_expr`` array-fold (interpreted higher-order
    lambdas; kept for streaming, where an aggregation
    upstream of a stateful operator is illegal and micro-batch volumes
    are small — streaming/minhash_dedup.py).  A parity pytest pins all
    three bit-identical.
    """
    # Arrow map pass (r12 optimization round, guide §4.2 + §2.4): the
    # per-doc signature is a pure function of the doc's own distinct
    # shingle hashes, so the explode + num_perm-min groupBy (and its
    # exchange of per-partition partial mins) collapses into one
    # mapInPandas over (id, text) — tokenization/shingling replicated with
    # Spark-exact semantics (see simhash_signatures for the tokenizer
    # contract), md5 per shingle via hashlib, the num_perm affine mins via
    # numpy reduceat.  Bit-identical to the retained Tungsten-aggregate
    # reference (_minhash_signatures_agg) and the streaming expression
    # form — the parity pytest pins all three.  Docs with no shingles
    # (fewer than shingle_n words, or only empty grams) emit no row,
    # exactly like the groupBy form.
    coeffs = minhash_coeffs(num_perm)
    src = fan_out(df.select(F.col(id_col), F.col(text_col)))
    # the id column passes through untouched: derive its output type from
    # the input schema (r12 ADVICE — the first Arrow form hardcoded `long`
    # and int64-cast the ids, silently rejecting string/nullable ids that
    # the groupBy reference form accepts)
    id_type = src.schema[id_col].dataType.simpleString()

    def gen(batches):
        import hashlib
        import re

        import numpy as np
        import pandas as pd

        split = re.compile("[ \t\n\x0b\f\r]+").split
        md5 = hashlib.md5
        a_arr = np.asarray([a for a, _ in coeffs], dtype=np.int64)
        b_arr = np.asarray([b for _, b in coeffs], dtype=np.int64)
        mod = np.int64(MINHASH_MOD)
        for pdf in batches:
            texts = pdf[text_col].values
            keep: list = []
            counts: list = []
            hashes: list = []
            for i in range(len(texts)):
                t = texts[i]
                if t is None or isinstance(t, float):
                    continue
                toks = split(t.strip(" "))
                if len(toks) < shingle_n:
                    continue
                hs = {
                    int(md5(g.encode("utf-8")).hexdigest()[:15], 16) % MINHASH_MOD
                    for g in (
                        " ".join(toks[j : j + shingle_n])
                        for j in range(len(toks) - shingle_n + 1)
                    )
                    if g != ""
                }
                if not hs:
                    continue
                keep.append(i)
                counts.append(len(hs))
                hashes.append(np.fromiter(hs, dtype=np.int64, count=len(hs)))
            if not keep:
                continue
            h = np.concatenate(hashes)
            n = np.asarray(counts, dtype=np.int64)
            starts = np.zeros(len(n), dtype=np.int64)
            np.cumsum(n[:-1], out=starts[1:])
            sig = np.empty((len(n), num_perm), dtype=np.int64)
            for p in range(num_perm):
                sig[:, p] = np.minimum.reduceat((a_arr[p] * h + b_arr[p]) % mod, starts)
            yield pd.DataFrame(
                {
                    # positional take preserves the input dtype (incl.
                    # string/nullable ids) — no int64 coercion
                    id_col: pdf[id_col].take(keep).reset_index(drop=True),
                    "signature": list(sig),
                }
            )

    return src.mapInPandas(
        gen, schema=f"{id_col} {id_type}, signature array<long>"
    )


def _minhash_signatures_agg(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Tungsten-aggregate reference for :func:`minhash_signatures`
    (explode + num_perm min-aggregates) — kept for the three-way parity
    test; the batch production path is the Arrow map pass above."""
    # shingle_hashes dedups on the 60-bit hash map-side (no string shuffle);
    # MIN over the permuted hashes is multiset-invariant, so even a 60-bit
    # collision collapsing two shingles cannot change any signature value —
    # the string-distinct oracle stays bit-identical with no caveat.
    base = shingle_hashes(df, text_col, id_col, shingle_n).select(
        F.col(id_col), (F.col("h") % MINHASH_MOD).alias("h")
    )
    mins = base.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_MOD).alias(f"h{p}")
            for p, (a, b) in enumerate(minhash_coeffs(num_perm))
        ]
    )
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"h{p}") for p in range(num_perm)]).alias("signature"),
    )


def lsh_band_keys(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Expand ``(id_col, signature)`` rows into the LSH band index
    ``(id_col, band, band_key)``: signatures split into ``bands`` slices of
    num_perm/bands values; the key is md5 of the ':'-joined slice.  This IS
    the persisted artifact of a production dedup index — an equality-join
    key, so every consumer (batch pair generation, incremental shard
    checks, streaming buckets) is a hash join, never all-pairs."""
    rows_per_band = num_perm // bands
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return sig.select(
        F.col(id_col),
        F.explode(band_idx).alias("band"),
        F.md5(
            F.array_join(
                F.transform(
                    F.slice(
                        F.col("signature"),
                        F.col("band") * rows_per_band + 1,
                        rows_per_band,
                    ),
                    lambda h: h.cast("string"),
                ),
                ":",
            )
        ).alias("band_key"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidate pairs: split signatures into ``bands`` bands of
    num_perm/bands rows; docs sharing any band key are candidates.
    The band key is md5 of the band's signature slice — an equality-join
    key, so candidate generation is a hash join, never all-pairs."""
    # both sides of the self-join consume `banded`; one side is a
    # broadcast build, so exchange reuse never fires and the shingle +
    # minhash pass ran twice — materialize once (the
    # incremental_lsh_dedup precedent)
    banded = pin(
        lsh_band_keys(
            minhash_signatures(df, text_col, id_col, num_perm, shingle_n),
            id_col=id_col,
            num_perm=num_perm,
            bands=bands,
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates()
    )


def incremental_lsh_dedup(
    corpus_index: DataFrame,
    shard: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Dedup a NEW shard against an EXISTING corpus without touching the
    corpus documents: the production daily-ingest shape, where the corpus
    is represented only by its persisted LSH band index
    (``lsh_band_keys`` output: ``(id_col, band, band_key)``) and each
    arriving shard is (1) checked against that index and (2) self-checked
    for duplicates *within* the shard, earlier (lower-id) arrival wins.

    Returns one row per shard document: ``(id_col, dup_of, is_dup)`` with
    ``dup_of`` = the smallest matching prior document id (corpus or
    earlier shard doc; NULL when unique).  Smallest-id is a total order,
    so the result is deterministic and engine-replayable.

    Scale shape (100 TB corpus, ~TB shard): corpus text is NEVER re-read —
    the only corpus-sized input is the band index, O(docs × bands) 16-byte
    keys, bucketable on band_key so the shard probe is a co-located hash
    join.  Shard signatures are one map-side shingle pass + one groupBy;
    both probes shuffle candidate keys only.  After the merge the caller
    appends the kept docs' band keys to the index — the index is the
    accumulating state, documents stream through once.
    """
    # consumed three times (index probe + both sides of the self-join):
    # materialize once so the shard's shingle+minhash pass runs once, not
    # three times (the triangle_counts lesson)
    shard_bands = pin(
        lsh_band_keys(
            minhash_signatures(shard, text_col, id_col, num_perm, shingle_n),
            id_col=id_col,
            num_perm=num_perm,
            bands=bands,
        )
    )
    s, c = shard_bands.alias("s"), corpus_index.alias("c")
    vs_corpus = s.join(
        c,
        (F.col("s.band") == F.col("c.band"))
        & (F.col("s.band_key") == F.col("c.band_key")),
    ).select(
        F.col(f"s.{id_col}").alias(id_col), F.col(f"c.{id_col}").alias("m")
    )
    a, b = shard_bands.alias("a"), shard_bands.alias("b")
    vs_shard = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias(id_col), F.col(f"b.{id_col}").alias("m"))
    matches = vs_corpus.unionByName(vs_shard).groupBy(id_col).agg(
        F.min("m").alias("dup_of")
    )
    return (
        shard.select(id_col)
        .join(matches, id_col, "left")
        .select(
            id_col,
            "dup_of",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """All three SimHash signature lanes — the w32 ``simhash`` (bits 0-31 of
    the 60-bit md5 hash) plus the w64 words ``(sh_lo, sh_hi)`` — in ONE
    Arrow map pass: ``(id, simhash, sh_lo, sh_hi)``.

    Why this exists (guide §4.2 + §2.4, r12 optimization round): the
    expression form (explode words -> md5 -> 64-96 conditional SUM
    accumulators per doc) is a pathological aggregate — the generated
    update method is too large to JIT well, and the per-doc vote counting
    is fundamentally a pure MAP over (id, text) that the explode+groupBy
    shape turns into a shuffle.  Measured at sf0.1/local[32], warm: the
    w64 expression pass alone 4.0 s; this fused 3-lane pass 1.5 s — and
    the plan loses the Exchange entirely (per-doc signatures never leave
    their scan task).  At 100 TB that is a full corpus-sized shuffle of
    vote partials removed per signature pass.

    Exactness contract (oracle-replayed): tokens are Spark's
    ``split(trim(text), '\\s+')`` — trim strips 0x20 ONLY, Java ``\\s``
    is the ASCII class ``[ \\t\\n\\x0b\\f\\r]``, and leading/trailing
    empty tokens are KEPT (limit=-1 semantics) — so the Python side uses
    ``str.strip(' ')`` + that exact character class, NOT Python's
    unicode-aware ``\\s``.  Word hash = md5 of the UTF-8 bytes; the three
    lanes are bit slices of the first 8 digest bytes (hex chars 1-15 →
    ``>> 4``; 1-8 → ``>> 32``; 9-16 → ``& 0xFFFFFFFF``).  Bit b of a lane
    is set iff 2·ones_b >= n_tokens (identical to the vote sum
    ``ones - (n - ones) >= 0``).  Null texts emit no row (explode-of-null
    semantics).  ``tests/test_llm_data.py::
    test_simhash_signatures_arrow_matches_expression_reference`` pins
    equality against the retained expression references on an adversarial
    fixture (tabs, unicode whitespace, empties, null).
    """
    src = fan_out(df.select(F.col(id_col), F.col(text_col)))
    # derive the pass-through id type from the input schema (r12 ADVICE —
    # see minhash_signatures)
    id_type = src.schema[id_col].dataType.simpleString()

    def gen(batches):
        import hashlib
        import re

        import numpy as np
        import pandas as pd

        split = re.compile("[ \t\n\x0b\f\r]+").split
        md5 = hashlib.md5
        for pdf in batches:
            texts = pdf[text_col].values
            keep: list = []
            counts: list = []
            bufs: list = []
            for i in range(len(texts)):
                t = texts[i]
                if t is None or isinstance(t, float):  # null text
                    continue
                toks = split(t.strip(" "))
                keep.append(i)
                counts.append(len(toks))
                bufs.append(
                    b"".join(md5(tok.encode("utf-8")).digest()[:8] for tok in toks)
                )
            if not keep:
                continue
            h = np.frombuffer(b"".join(bufs), dtype=">u8").astype(np.uint64)
            n = np.asarray(counts, dtype=np.int64)
            starts = np.zeros(len(n), dtype=np.int64)
            np.cumsum(n[:-1], out=starts[1:])
            lanes = (
                h >> np.uint64(4),          # 60-bit w32 lane (bits 0-31 voted)
                h >> np.uint64(32),         # hex chars 1-8
                h & np.uint64(0xFFFFFFFF),  # hex chars 9-16
            )
            out = []
            for lane in lanes:
                sh = np.zeros(len(n), dtype=np.int64)
                for b in range(32):
                    ones = np.add.reduceat(
                        ((lane >> np.uint64(b)) & np.uint64(1)).astype(np.int64),
                        starts,
                    )
                    sh |= (2 * ones >= n).astype(np.int64) << b
                out.append(sh)
            yield pd.DataFrame(
                {
                    # positional take preserves the input dtype (incl.
                    # string/nullable ids) — no int64 coercion
                    id_col: pdf[id_col].take(keep).reset_index(drop=True),
                    "simhash": out[0],
                    "sh_lo": out[1],
                    "sh_hi": out[2],
                }
            )

    return src.mapInPandas(
        gen, schema=f"{id_col} {id_type}, simhash long, sh_lo long, sh_hi long"
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash: per-document ``bits``-bit locality-sensitive hash — bit b of
    the result is the majority vote of bit b across all word hashes.
    Near-duplicates land at small Hamming distance.

    The production ``bits=32`` path rides :func:`simhash_signatures` (one
    Arrow map pass, no shuffle); other widths keep the expression tree
    (explode + conditional sums) — engine-independent md5 word hashes,
    reproduced exactly by the oracle SQL in both cases.
    """
    if bits == 32:
        return simhash_signatures(df, text_col=text_col, id_col=id_col).select(
            F.col(id_col), "simhash"
        )
    return _simhash_expr(df, text_col=text_col, id_col=id_col, bits=bits)


def _simhash_expr(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Expression-tree reference for :func:`simhash` (explode + conditional
    vote sums) — the generic-width path, and the reference the
    Arrow-vs-expression differential test pins against at ``bits=32``."""
    df = fan_out(df)
    w = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("w"))
    hw = w.select(F.col(id_col), _h60(F.col("w")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    voted = hw.groupBy(id_col).agg(*votes)
    sh = sum(
        (
            F.when(F.col(f"v{b}") >= 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
            for b in range(bits)
        ),
        F.lit(0).cast("long"),
    )
    return voted.select(F.col(id_col), sh.alias("simhash"))


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash as TWO 32-bit BIGINT words ``(sh_lo, sh_hi)`` — the
    production-width form of :func:`simhash`.  A single signed BIGINT
    cannot hold bit 63 portably (Spark would fold a negative literal,
    DuckDB would error on ``1 << 63``), so the hash rides as two
    non-negative 32-bit words, the same representation as the binary
    quantization in plans/llm_data.embedding_bitq_hamming_recall; hamming
    distance is the SUM of two XOR+bit_counts.  Word bits come from two
    disjoint 32-bit slices of the SAME md5 (chars 1-8 and 9-16) — md5
    bits are independent, and the oracle reproduces both slices exactly.

    Computed via :func:`simhash_signatures` (one Arrow map pass, no
    shuffle); :func:`_simhash64_expr` retains the expression reference
    the differential test pins against.
    """
    return simhash_signatures(df, text_col=text_col, id_col=id_col).select(
        F.col(id_col), "sh_lo", "sh_hi"
    )


def _simhash64_expr(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Expression-tree reference for :func:`simhash64` (explode + 64 vote
    sums) — kept for the Arrow-vs-expression differential test; the
    production path no longer executes it."""
    df = fan_out(df)
    w = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("w"))
    hw = w.select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long").alias("hlo"),
        F.conv(F.substring(F.md5(F.col("w")), 9, 8), 16, 10).cast("long").alias("hhi"),
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col(word), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"{word}_v{b}")
        for word in ("hlo", "hhi")
        for b in range(32)
    ]
    voted = hw.groupBy(id_col).agg(*votes)

    def _fold(word: str) -> Column:
        return sum(
            (
                F.when(F.col(f"{word}_v{b}") >= 0, F.lit(2 ** b).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for b in range(32)
            ),
            F.lit(0).cast("long"),
        )

    return voted.select(
        F.col(id_col), _fold("hlo").alias("sh_lo"), _fold("hhi").alias("sh_hi")
    )


def simhash64_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Verified 64-bit-SimHash near-dup pairs ``(id_a, id_b)``,
    ``id_a < id_b`` — the candidate+verify stage of
    :func:`simhash_clusters_w64`, exposed so other consumers (the dedup
    cascade audit) can reuse the pair set without the CC loop.  4 bands
    of 16 bits over the two 32-bit words, hamming = two XOR+bit_counts
    summed; pigeonhole keeps banding lossless for ``max_hamming`` <= 3."""
    n_bands = 4
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banding is lossy: max_hamming={max_hamming} needs "
            f"> {n_bands - 1} bands (pigeonhole)"
        )
    # referenced by both sides of the band self-join
    sh = pin(simhash64(df, text_col=text_col, id_col=id_col))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(
                    f"(sh_lo >> {16 * b}) & 65535"
                    if b < 2
                    else f"(sh_hi >> {16 * (b - 2)}) & 65535"
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sh.select(
        F.col(id_col), "sh_lo", "sh_hi", F.explode(band_structs).alias("bk")
    ).select(F.col(id_col), "sh_lo", "sh_hi", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sh_lo").alias("la"),
            F.col("a.sh_hi").alias("ha"),
            F.col("b.sh_lo").alias("lb"),
            F.col("b.sh_hi").alias("hb"),
        )
        .distinct()
    )
    return cand.filter(
        F.expr(f"bit_count(la ^ lb) + bit_count(ha ^ hb) <= {max_hamming}")
    ).select("id_a", "id_b")


def simhash_clusters_w64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """64-bit SimHash near-dup connected components — the 100-TB-safe band
    geometry.  The 32-bit form (:func:`simhash_clusters` with 4 bands) has
    8-bit band keys: <= 256 distinct values per band, so bucket occupancy
    is O(corpus/256) and the band-equality self-join degrades toward
    quadratic as the corpus grows.  Here the 64-bit hash gives 4 bands of
    16 bits — 65,536 keys per band, 256x more buckets, occupancy
    O(corpus/65536) — while the pigeonhole guarantee is unchanged
    (hamming <= 3 flips across 4 bands still leaves >= 1 band identical,
    so banding stays LOSSLESS for the threshold).  Bands 0-1 slice
    ``sh_lo``, bands 2-3 slice ``sh_hi``; verification is two
    XOR+bit_counts summed.  Everything downstream (distinct candidate
    pairs, min-label CC) is shared with the 32-bit path."""
    from .graph import min_label_components

    n_bands = 4
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banding is lossy: max_hamming={max_hamming} needs "
            f"> {n_bands - 1} bands (pigeonhole)"
        )
    with pins() as p:
        edges = simhash64_pairs(
            df, text_col=text_col, id_col=id_col, max_hamming=max_hamming
        )
        return p.returning(
            min_label_components(
                edges, df.select(F.col(id_col)), id_col, warn_name="simhash_clusters_w64"
            )
        )


def duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_iter: int = 15,
    max_doc_freq: int | None = NGRAM_MAX_DOC_FREQ,
) -> DataFrame:
    """Connected components over the near-duplicate graph: every document
    gets a ``cluster_id`` = the smallest doc id transitively reachable via
    Jaccard-over-threshold edges (its own id if unique).  This is the
    canonical-representative step after candidate pairing: keep one doc per
    cluster, drop the rest.

    Algorithm: min-label propagation (``graph.min_label_components``).
    Labels start as each node's smallest neighbour; each round is a
    pointer jump then a neighbour-min, and the round in which no label
    falls is the fixed point: then every edge has equal labels at both
    ends.  The count of fallen labels rides the round's checkpoint job,
    so detection costs no extra pass and no extra round.  The rounds are a
    Python loop over Spark jobs (the one sanctioned kind: iterative graph
    algorithms, as in GraphX Pregel).  Near-dup clusters are clique-like,
    so one round usually converges; ``max_iter`` bounds the neighbour-min
    steps, and the loop WARNS if the labels have not reached their fixed
    point within it (the clusters returned then are partial).  A chain
    with shuffled ids much shorter than ``max_iter`` hops can exhaust it
    too: the pointer jump shortcuts only along ascending ids.

    The returned DataFrame is pinned: the one pin a call hands to its
    caller.

    The loop iterates ONLY over nodes incident to an edge (the duplicate
    subgraph) — singleton documents, the overwhelming majority of any real
    corpus, never enter a propagation round; they get their own id back
    from the final aggregate.  Per-round work is O(duplicate nodes), not
    O(corpus).
    """
    from pyspark.sql.types import NumericType

    # labels are ids cast to bigint, which a string id fails (or, without
    # ANSI casts, turns into a NULL that joins no edge) — reject up front
    # (hash string ids to BIGINT first, e.g. sampling.hash_bucket)
    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, NumericType):
        raise TypeError(
            f"duplicate_clusters requires a numeric {id_col!r} (got "
            f"{id_type.simpleString()}): cluster labels are ids cast to "
            f"bigint. Map string ids to BIGINT first "
            f"(e.g. conv(substring(md5(id),1,15),16,10))."
        )
    from .graph import min_label_components

    with pins() as p:
        pairs = ngram_jaccard_pairs(
            df, text_col, id_col, threshold=threshold, max_doc_freq=max_doc_freq
        ).select("id_a", "id_b")
        return p.returning(
            min_label_components(
                pairs,
                df.select(F.col(id_col)),
                id_col,
                max_iter=max_iter,
                warn_name="duplicate_clusters",
            )
        )


def minhash_signature_expr(
    text_col: Column, num_perm: int = 16, shingle_n: int = 3
) -> Column:
    """The MinHash signature as ONE array expression — no explode, no
    groupBy, no shuffle: shingle set, base 60-bit md5 hash, and the
    num_perm affine mins all happen inside higher-order functions on the
    row.  Bit-identical to ``minhash_signatures`` (same shingle
    derivation, same ``_h60`` base hash, same coefficients); docs with no
    shingles yield an empty-signature NULL array_min — callers filter on
    ``size(words) >= shingle_n``.

    This is the form that composes over readStream (aggregations cannot
    precede a stateful operator).  It is NOT the batch form: nested
    higher-order lambdas evaluate interpreted.  On one 1000-doc benchmark
    shard at local[1], warm, it takes 0.8-1.4 s against 0.9 s for the
    Tungsten groupBy and 0.6 s for the Arrow pass (minhash_signatures),
    so use it only where streaming semantics force it."""
    grams = F.array_distinct(
        F.filter(word_ngrams(text_col, shingle_n), lambda g: g != "")
    )
    coeffs = minhash_coeffs(num_perm)
    a_arr = F.array(*[F.lit(a) for a, _ in coeffs])
    b_arr = F.array(*[F.lit(b) for _, b in coeffs])
    ab = F.arrays_zip(a_arr.alias("a"), b_arr.alias("b"))
    init = F.array_repeat(F.lit(MINHASH_MOD).cast("long"), num_perm)

    def _signature(gs: Column) -> Column:
        hs = F.transform(gs, lambda g: _h60(g) % MINHASH_MOD)
        # ONE fold over the shingle hashes updating all num_perm mins at
        # once.  The naive form — num_perm separate
        # array_min(transform(hs, ...)) — re-evaluates hs (an md5 per
        # shingle) once PER PERMUTATION after Catalyst collapses the
        # projections: measured 11-15 s vs ~1.5 s at sf0.1.  Here hs is
        # an aggregate() argument, evaluated once per row.
        folded = F.aggregate(
            hs,
            init,
            lambda acc, h: F.zip_with(
                acc, ab, lambda m, c: F.least(m, (c["a"] * h + c["b"]) % MINHASH_MOD)
            ),
        )
        # no shingles -> NULL signature (callers filter), matching the
        # explode+groupBy form which simply had no row to aggregate
        return F.when(F.size(gs) > 0, folded).otherwise(
            F.lit(None).cast("array<long>")
        )

    # bound: gs is read twice (fold and size guard)
    return let(grams, _signature)


def band_keys_expr(signature: Column, num_perm: int = 16, bands: int = 4) -> Column:
    """array<struct<band:int, band_key:string>> from a signature array —
    same md5-of-slice band key as ``minhash_lsh_pairs``."""
    rows_per_band = num_perm // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda band: F.struct(
            band.cast("int").alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(signature, band * rows_per_band + 1, rows_per_band),
                        lambda h: h.cast("string"),
                    ),
                    ":",
                )
            ).alias("band_key"),
        ),
    )


def simhash_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup connected components ``(id_col, cluster_id)``:
    32-bit simhash → ``n_bands`` equal-width band buckets (pigeonhole:
    hamming <= n_bands-1 guarantees >= 1 identical band, so banding is
    lossless for ``max_hamming`` <= n_bands-1) → XOR+bit_count verify →
    min-label connected components (operators/graph.py — pointer-jumped,
    one pinned generation per round).  Never all-pairs: the only join is band-key
    equality; the hash rides through the band explode so the verify
    needs no join back.  See plans/llm_data.dedup_simhash_clusters for
    the registered query + DuckDB oracle."""
    from .graph import min_label_components

    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banding is lossy: max_hamming={max_hamming} needs "
            f"> {n_bands - 1} bands (pigeonhole)"
        )
    width = 32 // n_bands
    with pins() as p:
        # referenced by both sides of the band self-join
        sh = pin(simhash(df, text_col=text_col, id_col=id_col, bits=32))
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.expr(f"(simhash >> {width * b}) & {(1 << width) - 1}").alias(
                        "key"
                    ),
                )
                for b in range(n_bands)
            ]
        )
        bands = sh.select(
            F.col(id_col), "simhash", F.explode(band_structs).alias("bk")
        ).select(F.col(id_col), "simhash", "bk.band", "bk.key")
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.simhash").alias("ha"),
                F.col("b.simhash").alias("hb"),
            )
            .distinct()
        )
        edges = cand.filter(
            F.expr(f"bit_count(ha ^ hb) <= {max_hamming}")
        ).select("id_a", "id_b")
        return p.returning(
            min_label_components(
                edges, df.select(F.col(id_col)), id_col, warn_name="simhash_clusters"
            )
        )


def incremental_cluster_merge(
    prior: DataFrame,
    new_edges: DataFrame,
    all_nodes: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Merge a NEW shard's near-dup edges into EXISTING cluster labels
    without re-running connected components over the corpus — the CC
    complement of :func:`incremental_lsh_dedup` (same daily-ingest shape:
    corpus state is a persisted artifact, documents stream through once).

    Inputs: ``prior`` = ``(id_col, cluster_id)`` for every pre-shard
    document (labels are min-ids, the invariant min_label_components
    guarantees); ``new_edges`` = every verified near-dup pair with at
    least one shard endpoint (shard-shard and shard-corpus); ``all_nodes``
    = the full post-ingest node set.

    Algorithm — condensation: each new edge's endpoints map to their
    prior cluster label (shard docs, absent from ``prior``, stay as their
    own id), so the merge graph's nodes are touched CLUSTER ids plus
    shard ids — O(shard + touched clusters), independent of corpus size.
    Min-label CC over that condensed graph yields a relabeling map; one
    left join rewrites exactly the touched clusters, untouched labels
    pass through.  Correctness: prior labels are component-min ids of the
    pre-shard graph, condensation preserves connectivity, and min over a
    union of min-labeled parts is the global min — so the output is
    IDENTICAL to a full recompute over corpus+shard (the registered
    query's oracle is literally the full-recompute SQL, and
    tests/test_llm_data.py differential-tests the same claim in Spark).

    At 100 TB: the corpus-sized inputs are ``prior`` (two slim columns,
    bucketable on cluster_id) and the band/shingle index that generated
    ``new_edges`` — corpus text is never re-read, and the CC loop runs
    on the condensed graph only."""
    from .graph import min_label_components

    la = prior.select(F.col(id_col).alias("id_a"), F.col("cluster_id").alias("la"))
    lb = prior.select(F.col(id_col).alias("id_b"), F.col("cluster_id").alias("lb"))
    # the condensed graph is tiny (touched clusters + shard) but its
    # lineage hangs off the full candidate-generation plan — cut it so
    # the CC loop's per-round plans stay constant-size
    cond_edges = pin(
        new_edges.select("id_a", "id_b")
        .join(la, "id_a", "left")
        .join(lb, "id_b", "left")
        .select(
            F.coalesce("la", F.col("id_a")).alias("id_a"),
            F.coalesce("lb", F.col("id_b")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    cond_nodes = (
        cond_edges.select(F.col("id_a").alias(id_col))
        .unionByName(cond_edges.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    remap = min_label_components(
        cond_edges, cond_nodes, id_col, warn_name="incremental_cluster_merge"
    ).select(F.col(id_col).alias("old_label"), F.col("cluster_id").alias("new_label"))
    # prior docs: rewrite touched cluster ids; shard docs: condensed label
    # if incident to any new edge, else their own id
    prior_out = (
        prior.join(remap, prior.cluster_id == remap.old_label, "left")
        .select(
            F.col(id_col),
            F.coalesce("new_label", "cluster_id").alias("cluster_id"),
        )
    )
    shard_nodes = all_nodes.select(F.col(id_col)).exceptAll(
        prior.select(F.col(id_col))
    )
    shard_out = (
        shard_nodes.join(
            remap, shard_nodes[id_col] == remap.old_label, "left"
        ).select(
            F.col(id_col),
            F.coalesce("new_label", F.col(id_col)).alias("cluster_id"),
        )
    )
    return prior_out.unionByName(shard_out)
