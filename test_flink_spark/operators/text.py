"""Text-analysis operators (north-star, BASELINE.json): tokenization, quality
scoring, language ID, document fingerprinting.

Design rules for 100 TB: everything is built-in JVM expressions (split /
regexp / md5 / aggregate) — no Python UDFs, whole-stage-codegen fused, one
narrow pass over the corpus; the only shuffles are the explicit groupBys.
Hash functions are md5-based so results are engine-independent (the DuckDB
oracle reproduces them bit-for-bit).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fanout import fan_out

# Words counted as stopwords by the quality scorer and language-ID heuristic.
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in")

# Minimal per-language marker sets for the n-gram/stopword language-ID
# heuristic.  Deliberately simple and deterministic — the same sets are
# inlined into the oracle SQL.
LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
}

# BPE-ish token pattern: word pieces or single non-space punctuation.
BPE_TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def words(text: Column) -> Column:
    """Whitespace tokenization of trimmed text (empty input → empty array)."""
    return F.split(F.trim(text), r"\s+")


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` bound to a lambda variable
    (``element_at(transform(array(value), v -> body(v)), 1)``).

    Spark does not eliminate common subexpressions inside higher-order
    lambdas: a computed array inlined into a per-element lambda is
    re-evaluated for EVERY element (``words(text)`` inlined into a
    per-shingle ``slice`` re-splits the document once per shingle —
    O(len²)).  A lambda variable is a value, so the bound expression runs
    once per row.  Any lambda that indexes into a computed array takes it
    from here."""
    return F.element_at(F.transform(F.array(value), body), 1)


def word_ngrams(text: Column, n: int) -> Column:
    """``array<string>`` of the word n-grams of ``text`` — each the
    ``" "``-join of ``n`` consecutive ``words()`` tokens, in order, with
    repeats.  Documents with fewer than ``n`` tokens (and null text) give
    an empty array: the size guard is needed because ``sequence(1, 0)`` is
    DESCENDING in Spark (``[1, 0]``), not empty.  Empty tokens (leading or
    trailing non-space whitespace, ``""`` text) are kept, so a gram may be
    ``""``; callers that want only real grams filter those.  The token
    array is split once per document (see ``let``)."""

    def _grams(ws: Column) -> Column:
        return F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(words(text), _grams)


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token counts: whitespace tokens + BPE-ish regex tokens +
    char length.  One narrow projection, no shuffle."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(words(t)).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), 0)).cast("long").alias("n_bpe_tokens"),
        F.length(t).cast("long").alias("n_chars_computed"),
    )


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality signals: token count, mean word length, stopword ratio,
    distinct-word ratio (lexical diversity).

    Pure array expressions over the tokenized text — ZERO shuffle (the
    r2 explode+groupBy form re-keyed every token of the corpus: the
    whole 100 TB crossed the network to compute per-doc ratios), and
    because nothing aggregates across rows it also composes unchanged
    over readStream (the explode form's countDistinct is unsupported on
    streams).  Arithmetic parity with the per-token oracle: token-length
    and stopword sums are exact integers, so sum/n divides identically
    to AVG in DuckDB."""
    ws = words(F.col(text_col))
    n = F.size(ws)
    total_len = F.aggregate(
        F.transform(ws, F.length), F.lit(0), lambda acc, x: acc + x
    )
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS_EN)))
    n_distinct = F.size(F.array_distinct(ws))
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.round(total_len / n, 4).alias("avg_word_len"),
        F.round(n_stop / n, 4).alias("stopword_ratio"),
        F.round(n_distinct / n, 4).alias("distinct_ratio"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-marker language ID: the language whose marker words occur
    most; 'und' (undetermined) when nothing matches.  Ties break in fixed
    en < es < de < fr priority order (deterministic).  Pure expression —
    no shuffle, no UDF."""
    padded = F.concat(F.lit(" "), F.trim(F.col(text_col)), F.lit(" "))
    scores = {
        lang: sum(
            (F.size(F.split(padded, f" {m} ")) - 1 for m in markers), F.lit(0)
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        pred = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    return df.select(F.col(id_col), pred.alias("pred_lang"))


def bigrams(text: Column) -> Column:
    """Adjacent word pairs as 'w1 w2' strings: ``word_ngrams(text, 2)``."""
    return word_ngrams(text, 2)


def repetition_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition signals (the boilerplate/spam filter of a
    training-data pipeline): bigram count, distinct-bigram ratio, and the
    share of the document taken by its single most repeated bigram.

    Plan shape for 100 TB: explode to (doc, bigram), count per pair, then
    re-aggregate per doc.  Both aggregations are partially aggregated
    map-side, so the first exchange carries one row per distinct
    (doc, bigram) per map partition — repeated bigrams (the thing being
    measured) collapse before they're shuffled — and the second carries
    per-pair counts.  Deliberately NOT the O(tokens^2) pure-expression
    form: a 100k-token document would blow up quadratically there, while
    this stays linear."""
    # a single-file parquet corpus arrives as ONE partition; the explode +
    # first aggregation are compute-bound, so fan out before them (the
    # groupBys shuffle anyway — this adds parallelism, not a new barrier)
    df = fan_out(df)
    bi = df.select(F.col(id_col), F.explode(bigrams(F.col(text_col))).alias("bg"))
    per_pair = bi.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("c"))
    return per_pair.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_bigrams"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 4).alias("distinct_bigram_ratio"),
        F.round(F.max("c") / F.sum("c"), 4).alias("top_bigram_share"),
    )


def chunk_token_windows(
    df: DataFrame,
    chunk_size: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping token windows — the
    sequence-packing step that turns a cleaned corpus into training rows.

    chunk i covers tokens [i*stride, i*stride + chunk_size); the last chunk
    is the first one whose window reaches the final token (short tails are
    NOT emitted as extra fragments).  Pure per-row expression + posexplode:
    map-side only, no shuffle, scales with input splits.
    """
    if not 0 < stride <= chunk_size:
        raise ValueError(f"need 0 < stride <= chunk_size, got {stride}/{chunk_size}")

    def _chunks(ws: Column) -> Column:
        # number of windows: 1 + ceil(max(n - chunk_size, 0) / stride)
        n_chunks = F.lit(1) + F.ceil(
            F.greatest(F.size(ws) - F.lit(chunk_size), F.lit(0)) / F.lit(stride)
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(ws, i * stride + 1, chunk_size),
        )

    chunks = let(words(F.col(text_col)), _chunks)
    return (
        df.select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "toks"))
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("long"),
            F.array_join(F.col("toks"), " ").alias("chunk_text"),
            F.size(F.col("toks")).cast("long").alias("n_chunk_tokens"),
        )
    )


def pack_by_token_budget(
    chunks: DataFrame,
    budget: int,
    n_tokens_col: str = "n_chunk_tokens",
    order_cols: Sequence[str] = ("doc_id", "chunk_idx"),
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Assign chunks to training packs by cumulative token budget:
    ``pack_id = floor(exclusive_running_sum / budget)`` over a
    deterministic chunk order.  A chunk whose tokens straddle a boundary
    belongs to the pack it STARTS in (documented overflow-at-boundary
    semantics — packs can exceed ``budget`` by at most one chunk's tail,
    never split a chunk).

    Scale note: with ``partition_cols`` the running sum is computed
    INSIDE each shard and shards pack in parallel — the production shape
    for an unbounded corpus (pack ids are then per-shard; a pack is
    identified by ``(*partition_cols, pack_id)``).  With no
    ``partition_cols`` the window is a single global sort — one reducer
    sees every chunk row, which is only acceptable for bounded inputs
    (a date-slice, one document's chunks, a test fixture)."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from pyspark.sql import Window

    w = Window.orderBy(*[F.col(c) for c in order_cols]).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    if partition_cols:
        w = w.partitionBy(*[F.col(c) for c in partition_cols])
    cum = F.sum(F.col(n_tokens_col)).over(w)
    excl = cum - F.col(n_tokens_col)
    return chunks.select(
        *[F.col(c) for c in partition_cols],
        *[F.col(c) for c in order_cols],
        F.col(n_tokens_col),
        F.floor(excl / budget).cast("long").alias("pack_id"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized text (exact-dup
    key) + a 60-bit rolling content hash folded from word hashes (order-
    sensitive, engine-independent: md5 → hex → int)."""
    norm = F.array_join(words(F.col(text_col)), " ")
    word_hashes = F.transform(
        words(F.col(text_col)),
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"),
    )
    # Keep the accumulator below 2^31 so acc*31 + h (h < 2^60) never
    # overflows int64 — ANSI mode (Spark 4 default) would throw, and the
    # DuckDB oracle reproduces the same modular arithmetic exactly.
    rolling = F.aggregate(
        word_hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(31) + h) % F.lit(2147483647),
    )
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp_md5"),
        rolling.alias("fp_rolling"),
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Named-rule document filter in the style of the Gopher quality rules
    (Rae et al. 2021, §A1.1) / C4 heuristics: per-document rule columns
    plus the conjunctive ``passes`` flag, so a pipeline can both filter
    and audit WHICH rule rejected each doc.

    Rules (each a boolean column):
    - ``rule_word_count``:   min_words <= n_words <= max_words
    - ``rule_mean_len``:     min_mean_len <= mean word length <= max_mean_len
    - ``rule_symbol``:       (#-chars + ellipses) / n_words <= max_symbol_ratio
    - ``rule_alpha``:        frac of words containing a letter >= min_alpha_frac
    - ``rule_stopwords``:    >= min_stopwords stopword occurrences

    Pure array/regexp expressions — ZERO shuffle, codegen-fused, composes
    over readStream; one narrow pass at 100 TB.  Ratios are rounded to 4
    before comparison so rule outcomes are engine-reproducible (the DuckDB
    oracle rounds identically)."""
    ws = words(F.col(text_col))
    n = F.size(ws)
    total_len = F.aggregate(F.transform(ws, F.length), F.lit(0), lambda a, x: a + x)
    mean_len = F.round(total_len / n, 4)
    t = F.col(text_col)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = F.floor(
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    )
    symbol_ratio = F.round((n_hash + n_ellipsis) / n, 4)
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = F.round(n_alpha / n, 4)
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS_EN)))
    rules = {
        "rule_word_count": (n >= min_words) & (n <= max_words),
        "rule_mean_len": (mean_len >= min_mean_len) & (mean_len <= max_mean_len),
        "rule_symbol": symbol_ratio <= max_symbol_ratio,
        "rule_alpha": alpha_frac >= min_alpha_frac,
        "rule_stopwords": n_stop >= min_stopwords,
    }
    passes = F.lit(True)
    for c in rules.values():
        passes = passes & c
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
        n_stop.cast("long").alias("n_stopwords"),
        *[c.cast("boolean").alias(name) for name, c in rules.items()],
        passes.cast("boolean").alias("passes"),
    )


def dedup_blocks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 8,
) -> DataFrame:
    """Intra-document block dedup (the paragraph/line-level pass of
    CCNet/RefinedWeb-style pipelines, at fixed ``block_words``-word
    granularity since this corpus has no sentence punctuation): drop every
    repeated block, keeping first occurrences in order.

    Pure array expressions — zero shuffle, composes over readStream.  The
    first-occurrence pass is a single ``aggregate`` fold: the accumulator
    is the kept-blocks array itself (unique blocks in first-occurrence
    order), each step appending the block iff ``array_contains`` misses —
    O(blocks·distinct) compares instead of the O(blocks²) full-array
    ``array_position`` scan the round-3 form used.  Measured at sf0.1
    (noop write, min of 3): fold 0.70 s / 0.72 s cold vs array_position
    0.78 s / 2.7-3.3 s cold — the fold is what fixed the 4.0 s BENCH_r03
    number (cold-JIT cost of the quadratic scan, not steady-state).  A
    sort-based O(b log b) form (zip index → array_sort → adjacent-compare)
    measured 0.74 s / 0.79 s cold — no better, more code.  Emits the
    cleaned text plus block counts so the drop rate is auditable."""

    def _blocks(ws: Column) -> Column:
        n = F.size(ws)
        nb = F.ceil(n / F.lit(float(block_words))).cast("int")
        idx = F.when(n > 0, F.sequence(F.lit(0), nb - 1)).otherwise(
            F.array().cast("array<int>")
        )
        blocks = F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.slice(ws, i * block_words + 1, block_words)),
        )
        kept = F.aggregate(
            blocks,
            F.array().cast("array<string>"),
            lambda seen, x: F.when(F.array_contains(seen, x), seen).otherwise(
                F.concat(seen, F.array(x))
            ),
        )
        return F.struct(nb.alias("nb"), kept.alias("kept"))

    # the struct is its own projection: the outputs below read nb and kept
    # several times, and an inlined copy would re-run the split and fold
    b = df.select(F.col(id_col), let(words(F.col(text_col)), _blocks).alias("b"))
    nb, kept = F.col("b.nb"), F.col("b.kept")
    return b.select(
        F.col(id_col),
        nb.cast("long").alias("n_blocks"),
        F.size(kept).cast("long").alias("n_unique_blocks"),
        F.when(nb > 0, F.round(1 - F.size(kept) / nb, 4))
        .otherwise(F.lit(0.0))
        .alias("dropped_ratio"),
        F.array_join(kept, " ").alias("clean_text"),
    )
