"""Cross-document exact span deduplication: find fixed-length token spans
(contiguous word n-grams, stride 1) that occur in more than one document
and score each document by how much of it is span-duplicated elsewhere —
the distributed approximation of suffix-array substring dedup
("Deduplicating Training Data Makes Language Models Better", Lee et al.
2022: exact duplicated substrings, not whole-document near-dups, dominate
web corpora).  A true distributed suffix array is unnecessary for the
pipeline use case: fixed ``span_words`` windows at stride 1 detect every
duplicated substring of >= span_words tokens, which is the actionable
signal (the paper itself thresholds at a minimum match length).

Semantics (deterministic, engine-reproducible):
- a doc's span set = DISTINCT hashes of its ``span_words``-token windows;
- a span's owner  = the MINIMUM doc_id among docs containing it;
- a span is "duplicated" in doc d iff some OTHER doc shares it; d gets to
  keep the spans it owns (first-occurrence-keeps semantics, matching
  ``exact_dedup``'s canonical-id convention, extended to substrings);
- per doc: ``dup_frac`` = borrowed spans / total spans; the pipeline drops
  or trims docs above a threshold.

Scale design (the whole point at 100 TB):
- spans are hashed to 60-bit ints BEFORE the shuffle — the exchange
  carries (doc_id, 8-byte hash), never span text;
- ownership is ONE groupBy on the span hash with map-side partial
  min/count (duplicated spans — the thing being measured — collapse to
  one row per map partition before crossing the network);
- the join back to docs is an equality join on the hash (inverted-index
  shape shared with ``ngram_jaccard_pairs`` / ``ngram_containment``),
  then one per-doc count aggregation.  Nothing is ever all-pairs and no
  document body crosses the network.

Reference parity: extends test-flink's analytics surface with the
training-data-pipeline dedup family (SURVEY.md §2 LLM-data ops); no
counterpart file in /root/reference (the reference has no text ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin
from .dedup import _h60, shingle_hashes
from .fanout import fan_out
from .text import word_ngrams, words


def span_ownership(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 8,
    flag_threshold: float = 0.5,
) -> DataFrame:
    """Per-document duplicated-span stats: ``(id_col, n_spans, n_dup_spans,
    dup_frac, flagged)`` for EVERY input doc (docs shorter than
    ``span_words`` have no spans -> dup_frac 0.0, never flagged).

    ``n_dup_spans`` counts this doc's distinct spans that also appear in
    at least one other document AND are not owned (min doc_id) by this doc
    — so of k copies of a duplicated span, k-1 are charged and the
    earliest doc keeps it."""
    if span_words < 2:
        raise ValueError(f"span_words must be >= 2, got {span_words}")
    if not 0.0 < flag_threshold <= 1.0:
        raise ValueError(f"flag_threshold must be in (0, 1], got {flag_threshold}")
    # Per-doc distinct span HASHES, computed map-side (shingle_hashes):
    # the previous form reused ``shingles()``, whose dropDuplicates
    # shuffles the full span strings — ~50 bytes/span of text crossing the
    # network before any hashing, exactly what this module's scale contract
    # forbids.  Distinct-within-array costs no exchange at all, and deduping
    # on the 60-bit hash (not the string) is what the oracle's
    # ``SELECT DISTINCT id, h`` does anyway.  Measured at sf0.1: 5.9 s ->
    # 1.4-1.8 s warm (see docs/DESIGN_DECISIONS.md round 5).
    sp = shingle_hashes(df, text_col, id_col, n=span_words)
    own = sp.groupBy("h").agg(
        F.min(id_col).alias("owner"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    per_doc = (
        sp.join(own, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(
                ((F.col("n_docs") > 1) & (F.col("owner") != F.col(id_col))).cast("long")
            )
            .cast("long")
            .alias("n_dup_spans"),
        )
    )
    out = df.select(F.col(id_col)).join(per_doc, id_col, "left_outer").select(
        F.col(id_col),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.when(
            F.coalesce("n_spans", F.lit(0)) > 0,
            F.round(F.coalesce("n_dup_spans", F.lit(0)) / F.col("n_spans"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )
    return out.withColumn(
        "flagged", (F.col("dup_frac") >= flag_threshold).cast("boolean")
    )


def span_ownership_oracle_sql(
    span_words: int = 8,
    flag_threshold: float = 0.5,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB SQL reproducing ``span_ownership`` bit-for-bit (same md5
    span hashing, same min-owner attribution)."""
    n = span_words
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(n)).replace("w[i+0]", "w[i]")
    return f"""
WITH ws AS (
    SELECT {id_col}, string_split_regex(trim({text_col}), '\\s+') AS w FROM {table}
), sp AS (
    SELECT DISTINCT {id_col},
           ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
    FROM (
        SELECT {id_col},
               unnest(list_transform(range(1, greatest(len(w) - {n - 2}, 1)),
                                     i -> {gram})) AS s
        FROM ws) WHERE s IS NOT NULL AND s <> ''
), own AS (
    SELECT h, MIN({id_col}) AS owner, COUNT(*) AS n_docs FROM sp GROUP BY 1
), per_doc AS (
    SELECT sp.{id_col},
           COUNT(*) AS n_spans,
           SUM(CASE WHEN own.n_docs > 1 AND own.owner <> sp.{id_col}
                    THEN 1 ELSE 0 END) AS n_dup_spans
    FROM sp JOIN own USING (h) GROUP BY 1
)
SELECT d.{id_col},
       CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CASE WHEN COALESCE(n_spans, 0) > 0
            THEN ROUND(COALESCE(n_dup_spans, 0) * 1.0 / n_spans, 4)
            ELSE 0.0 END AS dup_frac,
       (CASE WHEN COALESCE(n_spans, 0) > 0
             THEN ROUND(COALESCE(n_dup_spans, 0) * 1.0 / n_spans, 4)
             ELSE 0.0 END) >= {flag_threshold} AS flagged
FROM {table} d
LEFT JOIN per_doc USING ({id_col})
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
# algorithm): per document, hash every k-gram, slide a w-gram window, and
# keep each window's MINIMUM hash.  The guarantee that makes this the
# classic document-fingerprinting scheme: any shared substring of
# >= w + k - 1 tokens between two documents yields at least one SHARED
# fingerprint, while only ~2/(w+1) of all gram hashes are kept — a
# principled density/recall dial, vs span_ownership's keep-every-window
# exactness.
# ---------------------------------------------------------------------------


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Per-document winnowed fingerprint set, summarized as
    ``(id_col, n_grams, n_fps, fp_md5)`` — gram count, distinct selected
    fingerprints, and an order-canonical md5 over the sorted fingerprint
    hashes (set-identity in one comparable value).

    Selection rule, expressed as two stacked same-partition windows (ONE
    exchange on the document id, no self-join):
        wmin(p)   = MIN(h) over grams [p-w+1, p]      (window minimum)
        sel(p)    = h(p) == MAX(wmin) over [p, p+w-1]
    A gram is kept iff it IS the minimum of at least one window covering
    it — algebraically identical to per-window argmin selection, because
    wmin <= h(p) on every covering window, so equality with the max of
    those minima says "some window chose p".  Equal-hash duplicates
    inside one window are all kept; both engines evaluate the identical
    arithmetic, so the oracle replays bit-for-bit (the 60-bit md5 hash
    convention of shingle_hashes).  Prefix positions use the shrunken
    frames both engines produce — equivalent to padding the left edge
    with +inf, a standard winnowing boundary choice.

    Scale: gram hashing is map-side array code; the two windows sort once
    within each document's partition; the fingerprint set is ~2/(w+1) of
    the gram count and only 8-byte hashes ever shuffle."""
    fp = F.when(F.col("sel"), F.col("h"))
    # fan out before the per-gram md5 pass: a single-file corpus arrives as
    # ONE scan partition and the gram hashing is the dominant map cost
    # (measured 3.8 s -> 1.0 s at sf0.1 — r12 optimization round).
    # collect_set skips the nulls of unselected grams and dedups INSIDE the
    # aggregation, and the groupBy rides the window's existing doc-id
    # partitioning — a .distinct() here would add a second exchange on
    # (doc_id, h) for nothing.  A document with no grams keeps its one
    # null row, so it still gets n_fps 0 and md5('').
    return _winnowed(fan_out(df), text_col, id_col, k, w).groupBy(id_col).agg(
        F.max("n_grams").cast("long").alias("n_grams"),
        F.size(F.collect_set(fp)).cast("long").alias("n_fps"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set(fp)), lambda x: x.cast("string")
                ),
                "|",
            )
        ).alias("fp_md5"),
    )


def _winnowed(
    df: DataFrame, text_col: str, id_col: str, k: int, w: int
) -> DataFrame:
    """Every k-gram of every document as ``(id_col, n_grams, pos, h, sel)``:
    the document's gram count, the gram's 0-based position and 60-bit
    hash, and whether some w-gram window selects it (the rule in
    ``winnowing_fingerprints``' docstring).  A document with no grams
    keeps one row with null ``pos``/``h``/``sel`` (posexplode_outer)."""
    from pyspark.sql import Window

    # grams are bound by a projection of their own: the size and the
    # explode below then read one value instead of re-tokenizing
    grams = df.select(
        F.col(id_col), word_ngrams(F.col(text_col), k).alias("grams")
    )
    posed = grams.select(
        F.col(id_col),
        F.size("grams").alias("n_grams"),
        F.posexplode_outer(F.transform("grams", _h60)).alias("pos", "h"),
    )
    by_pos = Window.partitionBy(id_col).orderBy("pos")
    wmin = F.min("h").over(by_pos.rowsBetween(-(w - 1), 0))
    return posed.withColumn("wmin", wmin).withColumn(
        "sel", F.col("h") == F.max("wmin").over(by_pos.rowsBetween(0, w - 1))
    )


def winnowing_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> str:
    """DuckDB replay of winnowing_fingerprints: same grams, same 60-bit
    hashes, same two stacked windows, same sorted-set md5."""
    gram = " || ' ' || ".join(f"w[pos + {j}]" for j in range(k))
    return rf"""
WITH ws AS (
    SELECT {id_col}, string_split_regex(trim({text_col}), '\s+') AS w
    FROM {table}
), g AS (
    -- range() is end-EXCLUSIVE: grams run pos = 1 .. len-k+1
    SELECT {id_col}, unnest(range(1, greatest(len(w) - {k - 2}, 1))) AS pos, w
    FROM ws
), gh AS (
    SELECT {id_col}, pos,
           ('0x' || substr(md5({gram}), 1, 15))::BIGINT AS h
    FROM g
), m AS (
    SELECT {id_col}, pos, h,
           MIN(h) OVER (PARTITION BY {id_col} ORDER BY pos
                        ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS wmin
    FROM gh
), s AS (
    SELECT {id_col}, pos, h,
           MAX(wmin) OVER (PARTITION BY {id_col} ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
             AS selmax
    FROM m
), fp AS (
    SELECT DISTINCT {id_col}, h FROM s WHERE h = selmax
), agg AS (
    SELECT {id_col}, COUNT(*) AS n_fps,
           md5(array_to_string(list_sort(list(h)), '|')) AS fp_md5
    FROM fp GROUP BY 1
)
SELECT d.{id_col},
       CAST(greatest(len(string_split_regex(trim(d.{text_col}), '\s+'))
                     - {k - 1}, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(a.n_fps, 0) AS BIGINT) AS n_fps,
       COALESCE(a.fp_md5, md5('')) AS fp_md5
FROM {table} d LEFT JOIN agg a USING ({id_col})
"""


def anchor_contexts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    ext: int = 10,
) -> DataFrame:
    """Winnowing-selected anchors with bounded context slices:
    ``(id_col, h, pos, ctx, off)`` where ``ctx`` is the 2·ext+k-token
    window around the anchor gram and ``off`` the anchor's 1-based
    offset within it.  One row per (doc, anchor hash) at the MIN
    position.  No frequency policy here — callers apply whichever cap
    their join needs (duplicate_substrings: 2..max_df across the corpus;
    substring_anchor_index: <= max_df on the corpus side only)."""
    # same fan-out as winnowing_fingerprints: the gram-hash pass and the
    # ctx-slice join side below must not run on one core locally
    df = fan_out(df)
    sel = (
        _winnowed(df, text_col, id_col, k, w)
        .filter(F.col("sel"))
        # 1-based token position of the gram start, the cross-engine
        # position convention (posexplode is 0-based, the oracle 1-based)
        .select(F.col(id_col), "h", (F.col("pos") + 1).alias("pos1"))
    )
    anch = sel.groupBy(id_col, "h").agg(F.min("pos1").alias("pos"))
    lo = F.greatest(F.col("pos") - ext, F.lit(1))
    wds = df.select(F.col(id_col), words(F.col(text_col)).alias("wds"))
    return anch.join(wds, id_col).select(
        F.col(id_col),
        "h",
        "pos",
        F.slice("wds", lo, F.col("pos") + (k - 1) + ext - lo + 1).alias("ctx"),
        (F.col("pos") - lo + 1).alias("off"),
    )


def extend_anchor_pairs(
    pairs: DataFrame, k: int, ext: int, min_len: int, keep_hash: bool = False
) -> DataFrame:
    """Bounded token-exact extend-and-verify over anchor-collision pairs
    with columns ``(id_a, pa, ca, oa, id_b, pb, cb, ob)`` — returns the
    verified matches ``(id_a, id_b, len_tokens, start_a, start_b)``.
    Shared by the batch pair detector and the streaming index probe.
    ``keep_hash=True`` carries the anchor hash ``h`` through as
    PROVENANCE — the incremental verdict maintainer needs it to remove
    exactly the intervals a hash contributed when that hash later
    crosses the df cap (streaming/verdict_ingest.py)."""

    def _tok(ctx, off, delta):
        # F.get is 0-based and NULL-safe out of range (never wraps) —
        # exactly DuckDB's positive-index list semantics
        return F.get(ctx, off + delta - F.lit(1))

    def _run(deltas_a, deltas_b):
        flags = F.transform(
            F.sequence(F.lit(1), F.lit(ext)),
            lambda i: F.when(
                F.coalesce(
                    _tok(F.col("ca"), F.col("oa"), deltas_a(i))
                    == _tok(F.col("cb"), F.col("ob"), deltas_b(i)),
                    F.lit(False),
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        p = F.array_position(flags, 0)  # 0 when no mismatch in range
        return F.when(p == 0, F.lit(ext)).otherwise(p - 1)

    left = _run(lambda i: -i, lambda i: -i)
    right = _run(lambda i: F.lit(k - 1) + i, lambda i: F.lit(k - 1) + i)
    aeq = F.forall(
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.coalesce(
                _tok(F.col("ca"), F.col("oa"), j)
                == _tok(F.col("cb"), F.col("ob"), j),
                F.lit(False),
            ),
        ),
        lambda x: x,
    )
    cols = [
        F.col("id_a"),
        F.col("id_b"),
        (F.col("l_") + k + F.col("r_")).alias("len_tokens"),
        (F.col("pa") - F.col("l_")).alias("start_a"),
        (F.col("pb") - F.col("l_")).alias("start_b"),
    ]
    if keep_hash:
        cols.append(F.col("h"))
    return (
        pairs.withColumn("l_", left)
        .withColumn("r_", right)
        .filter(aeq)
        .select(*cols)
        .filter(F.col("len_tokens") >= min_len)
    )


def duplicate_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    ext: int = 10,
    max_df: int = 8,
    min_len: int | None = None,
    per_pair_best: bool = True,
) -> DataFrame:
    """Longest duplicated SUBSTRING per document pair (bounded
    extend-and-verify) — the exact-substring dedup modality
    ``span_ownership``'s fixed-width fingerprints miss at other
    alignments (r7 verdict item 6): ``(id_a, id_b, len_tokens, start_a,
    start_b)``, the longest exact common token run found around a shared
    winnowing anchor, extension capped at ``ext`` tokens each side.

    Why anchors instead of a suffix array: winnowing's guarantee (MOSS)
    is that any common substring spanning >= w consecutive k-grams
    (>= w+k-1 tokens) contains a selection window lying entirely inside
    the match in BOTH documents, and the window minimum over identical
    gram hashes is the same gram — so every such duplicate yields an
    anchor-hash collision at the same relative offset, and bounded
    exact extension from the collision recovers the match without any
    all-pairs or all-suffix structure.  Matches shorter than w+k-1 may
    be missed (standard winnowing trade); ``min_len`` defaults to that
    guarantee threshold so reported rows are exactly the guaranteed
    zone.

    Scale shape: anchors are one (id, hash, min-pos) row per selected
    gram hash per doc (winnowing density ~2/(w+1) of grams); hashes
    anchored in more than ``max_df`` docs are dropped before the join
    (the boilerplate quadratic-pair guard, same role as
    ngram_jaccard_pairs' max_doc_freq — df > 2 already means the text
    is corpus-common, not a pairwise duplicate signal); each surviving
    anchor carries a BOUNDED context slice of 2·ext+k tokens, so the
    equi-join on the anchor hash ships fixed-size rows and the
    extension arithmetic is row-local — never a second pass over the
    corpus, never document bodies keyed by pair.  Per pair, the longest
    match wins (ties: smallest start_a, then start_b) in one
    max-of-struct aggregation.

    Exactness: extension compares raw TOKENS (60-bit anchor hash
    collisions are re-verified token-wise before extension), and every
    step is integer arithmetic both engines replay bit-for-bit."""
    if min_len is None:
        min_len = w + k - 1
    anch = anchor_contexts(df, text_col, id_col, k, w, ext)
    keep = (
        anch.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter((F.col("df_") >= 2) & (F.col("df_") <= max_df))
        .select("h")
    )
    ctxed = anch.join(keep, "h")
    a = ctxed.select(
        F.col(id_col).alias("id_a"),
        F.col("h"),
        F.col("pos").alias("pa"),
        F.col("ctx").alias("ca"),
        F.col("off").alias("oa"),
    )
    b = ctxed.select(
        F.col(id_col).alias("id_b"),
        F.col("h"),
        F.col("pos").alias("pb"),
        F.col("ctx").alias("cb"),
        F.col("off").alias("ob"),
    )
    pairs = a.join(b, "h").filter(F.col("id_a") < F.col("id_b"))
    scored = extend_anchor_pairs(pairs, k, ext, min_len)
    if not per_pair_best:
        # every verified extended match — the coverage/trim consumers'
        # input (duplicate_span_coverage merges these intervals per doc)
        return scored.select(
            "id_a",
            "id_b",
            F.col("len_tokens").cast("long").alias("len_tokens"),
            F.col("start_a").cast("long").alias("start_a"),
            F.col("start_b").cast("long").alias("start_b"),
        )
    best = scored.groupBy("id_a", "id_b").agg(
        F.max(
            F.struct(
                F.col("len_tokens").alias("l"),
                (-F.col("start_a")).alias("nsa"),
                (-F.col("start_b")).alias("nsb"),
            )
        ).alias("m")
    )
    return best.select(
        "id_a",
        "id_b",
        F.col("m.l").cast("long").alias("len_tokens"),
        (-F.col("m.nsa")).cast("long").alias("start_a"),
        (-F.col("m.nsb")).cast("long").alias("start_b"),
    )


def _dup_substrings_cte_body(
    table: str,
    text_col: str,
    id_col: str,
    k: int,
    w: int,
    ext: int,
    max_df: int,
    min_len: int,
) -> str:
    """Shared WITH-body (through the ``scored`` CTE) for the
    duplicate-substring oracles — anchors, df cap, bounded extension,
    verification; :func:`duplicate_substrings_oracle_sql` adds the
    per-pair tie-break, :func:`duplicate_span_coverage_oracle_sql` the
    interval merge."""
    gram = " || ' ' || ".join(f"w[pos + {j}]" for j in range(k)).replace(
        "w[pos + 0]", "w[pos]"
    )
    lflags = (
        f"list_transform(range(1, {ext + 1}), i -> CASE WHEN pa - i >= 1 "
        f"AND pb - i >= 1 AND COALESCE(wa[pa - i] = wb[pb - i], FALSE) "
        f"THEN 1 ELSE 0 END)"
    )
    rflags = (
        f"list_transform(range(1, {ext + 1}), i -> CASE WHEN "
        f"COALESCE(wa[pa + {k - 1} + i] = wb[pb + {k - 1} + i], FALSE) "
        f"THEN 1 ELSE 0 END)"
    )
    aeq = " AND ".join(
        f"COALESCE(wa[pa + {j}] = wb[pb + {j}], FALSE)" for j in range(k)
    )
    return rf"""ws AS (
    SELECT {id_col}, string_split_regex(trim({text_col}), '\s+') AS w
    FROM {table}
), g AS (
    SELECT {id_col}, unnest(range(1, greatest(len(w) - {k - 2}, 1))) AS pos, w
    FROM ws
), gh AS (
    SELECT {id_col}, pos,
           ('0x' || substr(md5({gram}), 1, 15))::BIGINT AS h
    FROM g
), m AS (
    SELECT {id_col}, pos, h,
           MIN(h) OVER (PARTITION BY {id_col} ORDER BY pos
                        ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS wmin
    FROM gh
), s AS (
    SELECT {id_col}, pos, h,
           MAX(wmin) OVER (PARTITION BY {id_col} ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
             AS selmax
    FROM m
), anch AS (
    SELECT {id_col}, h, MIN(pos) AS pos FROM s WHERE h = selmax GROUP BY 1, 2
), keep AS (
    SELECT h FROM anch GROUP BY h HAVING COUNT(*) BETWEEN 2 AND {max_df}
), a2 AS (
    SELECT anch.* FROM anch JOIN keep USING (h)
), pr AS (
    SELECT x.{id_col} AS id_a, x.pos AS pa, y.{id_col} AS id_b, y.pos AS pb
    FROM a2 x JOIN a2 y ON x.h = y.h AND x.{id_col} < y.{id_col}
), ctxed AS (
    SELECT p.id_a, p.id_b, p.pa, p.pb, wa.w AS wa, wb.w AS wb
    FROM pr p
    JOIN ws wa ON wa.{id_col} = p.id_a
    JOIN ws wb ON wb.{id_col} = p.id_b
), calc0 AS (
    -- list_position returns 0 (this DuckDB) or NULL (older) when the
    -- value is absent; normalize to 0 = "no mismatch in range", the
    -- same convention as Spark's array_position
    SELECT id_a, id_b, pa, pb,
           COALESCE(list_position({lflags}, 0), 0) AS lp,
           COALESCE(list_position({rflags}, 0), 0) AS rp,
           ({aeq}) AS anchor_eq
    FROM ctxed
), calc AS (
    SELECT id_a, id_b, pa, pb,
           CASE WHEN lp = 0 THEN {ext} ELSE lp - 1 END AS l,
           CASE WHEN rp = 0 THEN {ext} ELSE rp - 1 END AS r,
           anchor_eq
    FROM calc0
), scored AS (
    SELECT id_a, id_b, l + {k} + r AS len_tokens,
           pa - l AS start_a, pb - l AS start_b
    FROM calc WHERE anchor_eq AND l + {k} + r >= {min_len}
)"""


def duplicate_substrings_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    ext: int = 10,
    max_df: int = 8,
    min_len: int | None = None,
) -> str:
    """DuckDB replay of :func:`duplicate_substrings`: same winnowing
    anchors, same df cap, same bounded token-exact extension (DuckDB
    positive list indexing is NULL out of range, matching Spark's
    ``F.get``; the explicit ``>= 1`` guards stop DuckDB's negative
    wrap-around), same longest-match-per-pair tie-break."""
    if min_len is None:
        min_len = w + k - 1
    body = _dup_substrings_cte_body(
        table, text_col, id_col, k, w, ext, max_df, min_len
    )
    return f"""
WITH {body}
SELECT id_a, id_b, CAST(len_tokens AS BIGINT) AS len_tokens,
       CAST(start_a AS BIGINT) AS start_a, CAST(start_b AS BIGINT) AS start_b
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a, id_b
          ORDER BY len_tokens DESC, start_a ASC, start_b ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


def merged_interval_length(
    ivd: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Union length of DISTINCT closed integer intervals ``(id_col, s,
    e)`` per id — the classic gaps-and-islands merge (running max of
    prior interval ends marks island starts) → ``(id_col,
    covered_tokens)``.  Input MUST be distinct: deduping makes the
    (s, e) sort keys UNIQUE per id — ROWS-framed windows over tied keys
    are where parallel window implementations wobble (observed: DuckDB
    1.0 with 32 threads split an island across duplicate rows
    nondeterministically, ~1 doc per 50k; Spark's rowsBetween has the
    same theoretical tie hazard).  Shared by the batch coverage operator
    and the incremental verdict maintainer; the windows ride the id
    partitioning (no global window)."""
    from pyspark.sql import Window

    wo = Window.partitionBy(id_col).orderBy("s", "e")
    prev_max = F.max("e").over(wo.rowsBetween(Window.unboundedPreceding, -1))
    isl = ivd.withColumn(
        "new_isl", (F.col("s") > F.coalesce(prev_max, F.lit(-1))).cast("long")
    ).withColumn(
        "isl", F.sum("new_isl").over(wo.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_isl = isl.groupBy(id_col, "isl").agg(
        (F.max("e") - F.min("s") + 1).alias("cov")
    )
    return per_isl.groupBy(id_col).agg(
        F.sum("cov").cast("long").alias("covered_tokens")
    )


def retention_verdicts(
    df: DataFrame,
    coverage: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    drop_bp: int = 5000,
    trim_bp: int = 1500,
    k: int = 3,
    w: int = 4,
    ext: int = 10,
    max_df: int = 8,
) -> DataFrame:
    """One retention verdict per document — exact-duplicate
    canonicalization (min-id keeps; other copies ``drop_exact``) plus
    duplicated-span coverage thresholds (``drop_dup`` at >= drop_bp,
    ``trim_spans`` at >= trim_bp, else ``keep``) → ``(id_col, verdict,
    coverage_bp, is_canonical)``.  The operator behind the registered
    corpus_dedup_verdicts query (which passes its session-memoized
    coverage via ``coverage=``) and the batch truth the incremental
    maintainer (streaming/verdict_ingest.py) is differential-tested
    against."""
    cov = (
        coverage
        if coverage is not None
        else duplicate_span_coverage(df, text_col, id_col, k, w, ext, max_df)
    ).select(id_col, "coverage_bp")
    norm = F.array_join(words(F.col(text_col)), " ")
    fp = df.select(F.col(id_col), F.md5(norm).alias("fp"))
    canon = fp.groupBy("fp").agg(F.min(id_col).alias("canonical_id"))
    flags = fp.join(canon, "fp").select(
        F.col(id_col), (F.col(id_col) == F.col("canonical_id")).alias("is_canon")
    )
    return flags.join(cov, id_col).select(
        F.col(id_col),
        F.when(~F.col("is_canon"), F.lit("drop_exact"))
        .when(F.col("coverage_bp") >= drop_bp, F.lit("drop_dup"))
        .when(F.col("coverage_bp") >= trim_bp, F.lit("trim_spans"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
        F.col("coverage_bp").cast("long").alias("coverage_bp"),
        F.col("is_canon").cast("long").alias("is_canonical"),
    )


def duplicate_span_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    ext: int = 10,
    max_df: int = 8,
    min_len: int | None = None,
) -> DataFrame:
    """Per-document duplicated-TOKEN coverage from the substring
    detector: every verified extended match contributes an interval to
    BOTH endpoint docs; overlapping intervals are merged (classic
    gaps-and-islands on a per-doc window — running max of prior interval
    ends marks island starts) and the union length is reported as
    ``(id_col, n_tokens, n_spans, covered_tokens, coverage_bp)`` for
    EVERY input doc.  This is the actionable number substring dedup
    exists to produce (Lee et al. 2022 trim/drop policies threshold on
    exactly this fraction); ``span_ownership``'s dup_frac counts
    fixed-width fingerprints, which double-counts overlap and misses
    unaligned duplication.

    Integer-exact throughout: interval endpoints are token positions,
    the merge is window arithmetic on them, and coverage_bp =
    floor(10000·covered/n_tokens) — the oracle replays every step.
    Scale: intervals per doc are bounded by its anchor count; the merge
    windows ride the doc-id partitioning (no global window)."""
    from pyspark.sql import Window

    # eager-pin the match list: FOUR consumers read it (both iv union
    # branches, n_spans, and the merge) and Spark shares no subplans —
    # without the checkpoint the whole anchor/extension pipeline ran 4x
    # (plan audit: 72 exchanges / 25 scans; with it, one derivation)
    spans = pin(
        duplicate_substrings(
            df, text_col, id_col, k, w, ext, max_df, min_len, per_pair_best=False
        )
    )
    iv = spans.select(
        F.col("id_a").alias(id_col),
        F.col("start_a").alias("s"),
        (F.col("start_a") + F.col("len_tokens") - 1).alias("e"),
    ).unionByName(
        spans.select(
            F.col("id_b").alias(id_col),
            F.col("start_b").alias("s"),
            (F.col("start_b") + F.col("len_tokens") - 1).alias("e"),
        )
    )
    per_doc = merged_interval_length(iv.distinct(), id_col)
    nsp = iv.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("n_spans"))
    toks = df.select(
        F.col(id_col), F.size(words(F.col(text_col))).cast("long").alias("n_tokens")
    )
    return (
        toks.join(nsp, id_col, "left")
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long")
            .alias("covered_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.expr(
                    "coalesce(covered_tokens, 0) * 10000 div n_tokens"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("coverage_bp"),
        )
    )


def duplicate_span_coverage_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    ext: int = 10,
    max_df: int = 8,
    min_len: int | None = None,
) -> str:
    """DuckDB replay of :func:`duplicate_span_coverage`: shared
    anchor/extension body, same gaps-and-islands interval merge, same
    integer basis-point coverage."""
    if min_len is None:
        min_len = w + k - 1
    body = _dup_substrings_cte_body(
        table, text_col, id_col, k, w, ext, max_df, min_len
    )
    return rf"""
WITH {body},
iv AS (
    SELECT id_a AS {id_col}, start_a AS s, start_a + len_tokens - 1 AS e
    FROM scored
    UNION ALL
    SELECT id_b, start_b, start_b + len_tokens - 1 FROM scored
), ivd AS (
    -- DISTINCT before the merge windows: unique (s, e) keys per doc, so
    -- the ROWS frames never see ties (parallel-window nondeterminism on
    -- duplicate rows, observed in DuckDB 1.0 at 32 threads)
    SELECT DISTINCT {id_col}, s, e FROM iv
), marked AS (
    SELECT {id_col}, s, e,
           CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY {id_col}
                    ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                THEN 1 ELSE 0 END AS new_isl
    FROM ivd
), isl AS (
    SELECT {id_col}, s, e,
           SUM(new_isl) OVER (PARTITION BY {id_col} ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
    FROM marked
), per_isl AS (
    SELECT {id_col}, isl, MAX(e) - MIN(s) + 1 AS cov FROM isl GROUP BY 1, 2
), per_doc AS (
    SELECT {id_col}, SUM(cov) AS covered_tokens FROM per_isl GROUP BY 1
), nsp AS (
    SELECT {id_col}, COUNT(*) AS n_spans FROM iv GROUP BY 1
), toks AS (
    SELECT {id_col},
           len(string_split_regex(trim({text_col}), '\s+')) AS n_tokens
    FROM {table}
)
SELECT t.{id_col},
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(n.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       CAST(CASE WHEN t.n_tokens > 0
                 THEN (COALESCE(p.covered_tokens, 0) * 10000) // t.n_tokens
                 ELSE 0 END AS BIGINT) AS coverage_bp
FROM toks t LEFT JOIN nsp n USING ({id_col}) LEFT JOIN per_doc p USING ({id_col})
"""


def substring_anchor_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    ext: int = 10,
    max_df: int = 8,
) -> DataFrame:
    """The PERSISTED corpus side of incremental substring dedup: every
    corpus anchor (with its context slice) whose hash is carried by at
    most ``max_df`` corpus docs — the same boilerplate guard as the
    batch detector, applied one-sided (a df=1 corpus anchor still has to
    probe-able by an ARRIVING duplicate, so the >=2 prefilter of the
    batch pair join does not apply here).  Production writes this as a
    bucketed table on ``h``; each ingest batch probes it with a hash
    join and appends its own anchors."""
    anch = anchor_contexts(df, text_col, id_col, k, w, ext)
    keep = (
        anch.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") <= max_df)
        .select("h")
    )
    return anch.join(keep, "h")


def substring_check_batch(
    batch_df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    ext: int = 10,
    min_len: int | None = None,
) -> DataFrame:
    """Probe ONE batch of arriving documents against a persisted
    :func:`substring_anchor_index`: anchors of the new docs equi-join
    the index on the anchor hash, shared collisions extend-and-verify
    exactly as in the batch detector, and the longest verified match per
    (new doc, corpus doc) pair is emitted as ``(doc_id, dup_of,
    len_tokens, start_new, start_corpus)``.  The streaming face of
    corpus_dup_substrings, composed by :func:`streaming_substring_check`
    — the substring-modality sibling of minhash_dedup's
    streaming_index_check (whole-doc) and cluster_ingest (clusters).

    Frequency semantics vs the batch detector: the df cap is applied to
    the CORPUS index at build time; the arriving batch's own anchors are
    uncapped (a batch is bounded, and its hot anchors still meet a
    capped index).  On fixtures where no anchor exceeds the cap the two
    paths emit identical pairs — the parity pytest pins exactly that.

    Tie-break parity (r8 ADVICE): among equal-longest matches the CORPUS
    doc's start wins first, then the new doc's — mirroring the batch
    detector, whose max-struct orders on the smaller-id doc's start
    first and whose smaller id IS the corpus doc under monotonic
    doc_id assignment (corpus ids precede arriving ids).  A corpus doc
    with a LARGER id than an arriving doc would tie-break on the other
    endpoint in the batch path; match geometry (len) is unaffected
    either way.

    The probe's (k, w, ext) MUST match the index's build parameters —
    ctx slices and off are baked at index-build time, so a larger ext
    here silently truncates extensions instead of erroring.  The
    persistence layer (streaming/substring_dedup.py) records them in a
    ``_PARAMS.json`` sidecar and raises on mismatch."""
    if min_len is None:
        min_len = w + k - 1
    a = anchor_contexts(batch_df, text_col, id_col, k, w, ext).select(
        F.col(id_col).alias("id_a"),
        F.col("h"),
        F.col("pos").alias("pa"),
        F.col("ctx").alias("ca"),
        F.col("off").alias("oa"),
    )
    b = index.select(
        F.col(id_col).alias("id_b"),
        F.col("h"),
        F.col("pos").alias("pb"),
        F.col("ctx").alias("cb"),
        F.col("off").alias("ob"),
    )
    pairs = a.join(b, "h").filter(F.col("id_a") != F.col("id_b"))
    scored = extend_anchor_pairs(pairs, k, ext, min_len)
    # corpus start (nsb) before new-doc start (nsa): see docstring
    best = scored.groupBy("id_a", "id_b").agg(
        F.max(
            F.struct(
                F.col("len_tokens").alias("l"),
                (-F.col("start_b")).alias("nsb"),
                (-F.col("start_a")).alias("nsa"),
            )
        ).alias("m")
    )
    return best.select(
        F.col("id_a").alias(id_col),
        F.col("id_b").alias("dup_of"),
        F.col("m.l").cast("long").alias("len_tokens"),
        (-F.col("m.nsa")).cast("long").alias("start_new"),
        (-F.col("m.nsb")).cast("long").alias("start_corpus"),
    )
