"""BPE vocabulary induction: corpus-wide byte-pair-encoding merge
learning (Sennrich et al. 2016) as a sequence of bounded DataFrame
aggregations, with an unrolled-CTE DuckDB oracle that replays every merge
round bit-for-bit.

Shape (the reason BPE is tractable at 100 TB): merges are learned over
WORD TYPES weighted by frequency, not over the corpus stream — one
explode + groupBy collapses the corpus to its distinct-word table
(vocabulary-sized, like corpus_vocab_coverage), and every merge round is
an O(|vocab|) projection + one bounded pair-count aggregation with
map-side partials.  The corpus is scanned exactly once.

Canonical left-to-right merge application via plain string replace: each
word is held in "wrapped symbol" form where every symbol carries its OWN
leading and trailing space —

    'abc'  ->  ' a  b  c '      (regexp_replace '(.)' -> ' $1 ')

so the merge needle ' a  b ' consumes only the two merged symbols' own
spaces, never a neighbor's separator, and consecutive runs chain exactly
like reference BPE ('a a a a' + merge(a,a) -> 'aa aa', not 'aa a a').
Both engines' replace() is leftmost non-overlapping continuing after the
replacement — the same scan BPE specifies — so Spark and DuckDB apply
merges identically (pinned by a run-chaining pytest and the oracle gate).

Determinism: pair counts are exact integer sums; each round's winning
pair breaks ties by (count DESC, pair ASC) — string compare over the
lowercase-ASCII token alphabet ([a-z] filter below), identical in both
engines.  The winning pair per round is a 1-row driver collect embedded
as a literal in the next round's expression (the IVF-centroid precedent:
sanctioned tiny scalar, k rows total); the oracle computes the same
winner with scalar subqueries, fully in-SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import persist, pins
from .text import words

TOKEN_RE = "^[a-z]+$"  # lowercase-ASCII word types: keeps '(.)' per-char
# splitting identical across engines (Java regex walks UTF-16 units, DuckDB
# walks codepoints — restricting the BPE alphabet to ASCII sidesteps the
# astral-plane mismatch instead of hoping the corpus avoids it).


def _word_types(df: DataFrame, text_col: str) -> DataFrame:
    """(word, wcnt, seq): distinct lowercase-ASCII word types with corpus
    frequency and the initial wrapped-symbol sequence."""
    tok = F.explode(words(F.lower(F.col(text_col)))).alias("tok")
    return (
        df.select(tok)
        .filter(F.col("tok").rlike(TOKEN_RE))
        .groupBy(F.col("tok").alias("word"))
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .withColumn("seq", F.regexp_replace("word", "(.)", " $1 "))
    )


def _pair_counts(types_df: DataFrame) -> DataFrame:
    """(pair, cnt): adjacent-symbol pair frequencies, weighted by word
    frequency.  Bounded output (distinct pairs), map-side partial sums."""
    al = types_df.withColumn("al", F.split(F.trim(F.col("seq")), "  "))
    return (
        al.filter(F.size("al") >= 2)
        .select(
            "wcnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(al) - 1),"
                    " i -> concat(element_at(al, i), ' ', element_at(al, i + 1)))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("wcnt").alias("cnt"))
    )


def _apply_merge(types_df: DataFrame, pair: str) -> DataFrame:
    needle = " " + pair.replace(" ", "  ") + " "
    merged = " " + pair.replace(" ", "") + " "
    return types_df.withColumn(
        "seq", F.expr(f"replace(seq, '{needle}', '{merged}')")
    )


def bpe_learn(
    spark: SparkSession, df: DataFrame, text_col: str = "text", n_merges: int = 3
) -> DataFrame:
    """Learn ``n_merges`` BPE merges: returns ``(merge_round, pair,
    pair_count)`` — one row per learned merge, the driver-side K-row
    report shape (corpus_vocab_coverage precedent)."""
    with pins():
        types_df = persist(_word_types(df, text_col))
        out = []
        for r in range(1, n_merges + 1):
            top = (
                _pair_counts(types_df)
                .orderBy(F.col("cnt").desc(), F.col("pair").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break
            pair, cnt = top[0]["pair"], top[0]["cnt"]
            out.append((r, pair, int(cnt)))
            if r < n_merges:
                types_df = persist(_apply_merge(types_df, pair))
    return spark.createDataFrame(
        out, "merge_round BIGINT, pair STRING, pair_count BIGINT"
    )


def bpe_oracle_sql(table: str, text_col: str = "text", n_merges: int = 3) -> str:
    """Unrolled replay: same tokenization, wrapping, pair counting,
    (cnt DESC, pair ASC) winner, and replace()-application per round."""
    ctes = _learning_ctes(table, text_col, n_merges)
    finals = " UNION ALL ".join(
        f"SELECT {r}::BIGINT AS merge_round, pair, cnt::BIGINT AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


def _learning_ctes(table: str, text_col: str = "text", n_merges: int = 3) -> list[str]:
    """The merge-learning CTE chain (shared by the learning oracle and the
    encode oracle): tokenize → word types → wrapped sequences → per-round
    pair counts p{r} and winners b{r}."""
    ctes = [
        f"""toks AS (
  SELECT lower(unnest(string_split_regex(trim({text_col}), '\\s+'))) AS tok
  FROM {table}
)""",
        f"""wt AS (
  SELECT tok AS word, COUNT(*) AS wcnt FROM toks
  WHERE regexp_matches(tok, '{TOKEN_RE}') GROUP BY tok
)""",
        "s0 AS (SELECT wcnt, regexp_replace(word, '(.)', ' \\1 ', 'g') AS seq FROM wt)",
    ]
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        ctes.append(
            f"""p{r} AS (
  SELECT al[i] || ' ' || al[i + 1] AS pair, SUM(wcnt) AS cnt
  FROM (SELECT wcnt, string_split(trim(seq), '  ') AS al FROM {prev}) t,
       UNNEST(range(1, len(t.al))) AS u(i)
  GROUP BY 1
)""",
        )
        ctes.append(
            f"b{r} AS (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1)"
        )
        if r < n_merges:
            ctes.append(
                f"""s{r} AS (
  SELECT wcnt,
         replace(seq,
                 ' ' || replace((SELECT pair FROM b{r}), ' ', '  ') || ' ',
                 ' ' || replace((SELECT pair FROM b{r}), ' ', '') || ' ') AS seq
  FROM {prev}
)"""
            )
    return ctes


def bpe_encode(
    df: DataFrame,
    merges: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a LEARNED merge list to encode text — the tokenizer's second
    half, entirely JVM-side: each lowercase-ASCII word is wrapped into
    symbol form, the merges replay in learned order via chained
    ``replace`` (same leftmost non-overlapping scan as learning), and
    non-alphabetic words pass through as single opaque tokens.  Returns
    ``(id_col, n_bpe_tokens, enc_md5)`` where enc_md5 fingerprints the
    full '|'-joined token sequence (order-sensitive), so any divergence
    in merge application anywhere in the doc flips the hash.

    Scale: a narrow codegen projection — no shuffle, no Python; the
    merge table is a list of literals (vocabulary-sized state, the
    broadcast-dimension of tokenization).  Composes over readStream."""
    ws = words(F.lower(F.col(text_col)))

    def enc(w):
        seq = F.regexp_replace(w, F.lit("(.)"), F.lit(" $1 "))
        for p in merges:
            needle = " " + p.replace(" ", "  ") + " "
            merged = " " + p.replace(" ", "") + " "
            seq = F.replace(seq, F.lit(needle), F.lit(merged))
        return F.split(F.trim(seq), "  ")

    per_word = F.transform(
        ws, lambda w: F.when(w.rlike(TOKEN_RE), enc(w)).otherwise(F.array(w))
    )
    flat = F.flatten(per_word)
    return df.select(
        F.col(id_col),
        F.size(flat).cast("long").alias("n_bpe_tokens"),
        F.md5(F.array_join(flat, "|")).alias("enc_md5"),
    )


def bpe_encode_oracle_sql(
    table: str, text_col: str = "text", n_merges: int = 3
) -> str:
    """Encode replay: re-learns the merges in SQL (the shared
    ``_learning_ctes`` chain), binds the winning pairs as scalar columns,
    and applies the identical wrap → chained-replace → split per word.
    No literals cross from the Spark side — both engines DERIVE the
    merge table from the corpus, so the check covers learning AND
    application end-to-end."""
    ctes = _learning_ctes(table, text_col, n_merges)
    pairs = ", ".join(
        f"(SELECT pair FROM b{r}) AS mp{r}" for r in range(1, n_merges + 1)
    )
    ctes.append(f"m AS (SELECT {pairs})")
    seq = "regexp_replace(w, '(.)', ' \\1 ', 'g')"
    for r in range(1, n_merges + 1):
        # COALESCE guards the degenerate corpus with < n_merges winning
        # pairs: an empty b{r} scalar subquery yields mp{r} = NULL, and a
        # NULL needle would NULL-poison every encoded word.  chr(1) is an
        # impossible needle (tokens are TOKEN_RE word chars + spaces), so
        # the round degrades to a no-op — exactly what the Spark side does
        # when bpe_learn returns a shorter merge list.
        seq = (
            f"replace({seq},"
            f" COALESCE(' ' || replace(mp{r}, ' ', '  ') || ' ', chr(1)),"
            f" COALESCE(' ' || replace(mp{r}, ' ', '') || ' ', ''))"
        )
    ctes.append(
        rf"""enc AS (
  SELECT doc_id,
         flatten(list_transform(
             string_split_regex(trim(lower({text_col})), '\s+'),
             w -> CASE WHEN regexp_matches(w, '{TOKEN_RE}')
                       THEN string_split(trim({seq}), '  ')
                       ELSE [w] END)) AS toks
  FROM {table}, m
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
       md5(array_to_string(toks, '|')) AS enc_md5
FROM enc
"""
    )
