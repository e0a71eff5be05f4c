"""Round-5 query assemblies, batch 2: warehouse-ingestion and
graph/linkage analytics — CDC changelog application, time-series
gap-fill+LOCF, item co-occurrence recommendations, k-NN-graph triangle
counts, and fuzzy record linkage.  Every query carries a full
algorithm-replay DuckDB oracle (pure integer arithmetic or
identically-rounded scalars in both dialects).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import cooccur, linkage, sequence, timeseries
from ..operators.cdc import cdc_latest, scd2_history, snapshot_diff
from ..session import pin
from .relational import _t

# ---------------------------------------------------------------------------
# CDC changelog -> latest-state snapshot.
# ---------------------------------------------------------------------------


def cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat events as a per-user CDC changelog: (user_id, (ts, event_id))
    is the change sequence, 'error' is the tombstone op.  The snapshot is
    each user's latest change unless that change is a tombstone — the
    MERGE INTO semantics an ingestion pipeline materializes.  One hash
    exchange on the key; payload rides with the changelog row (no
    join-back)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("event_type").alias("op"),
        F.unix_millis("ts").alias("ts_ms"),
        F.round("value", 2).alias("value"),
    )
    snap = cdc_latest(
        ev,
        key_cols=["user_id"],
        seq_cols=["ts_ms", "event_id"],
        op_col="op",
        delete_ops=["error"],
    )
    return snap.select(
        "user_id",
        F.col("ts_ms").alias("last_ts_ms"),
        F.col("op").alias("last_op"),
        F.col("value").alias("last_value"),
    )


_CDC_SQL = r"""
WITH e AS (
    SELECT user_id, event_id, event_type AS op, epoch_ms(ts) AS ts_ms,
           ROUND(value, 2) AS value
    FROM events
), r AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts_ms DESC, event_id DESC) AS rn
    FROM e
)
SELECT user_id, ts_ms AS last_ts_ms, op AS last_op, value AS last_value
FROM r WHERE rn = 1 AND op <> 'error'
"""


# ---------------------------------------------------------------------------
# SCD Type-2 history over the same changelog.
# ---------------------------------------------------------------------------


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity-interval (SCD2) view of the per-user changelog: every
    non-tombstone change becomes a version row [valid_from, valid_to),
    tombstones close intervals without emitting state.  lead() over the
    keyed sequence — one exchange, no self-join."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("event_type").alias("op"),
        F.unix_millis("ts").alias("ts_ms"),
        F.round("value", 2).alias("value"),
    )
    hist = scd2_history(
        ev,
        key_cols=["user_id"],
        ts_col="ts_ms",
        tiebreak_cols=["event_id"],
        op_col="op",
        delete_ops=["error"],
    )
    return hist.select(
        "user_id", "op", "value", "valid_from", "valid_to", "is_current"
    )


_SCD2_SQL = r"""
WITH e AS (
    SELECT user_id, event_id, event_type AS op, epoch_ms(ts) AS ts_ms,
           ROUND(value, 2) AS value
    FROM events
), v AS (
    SELECT *,
           LEAD(ts_ms) OVER (PARTITION BY user_id
                             ORDER BY ts_ms ASC, event_id ASC) AS valid_to,
           LEAD(1) OVER (PARTITION BY user_id
                         ORDER BY ts_ms ASC, event_id ASC) IS NULL AS is_current
    FROM e
)
SELECT user_id, op, value, ts_ms AS valid_from, valid_to, is_current
FROM v WHERE op <> 'error'
"""


# ---------------------------------------------------------------------------
# Hourly gap-fill + LOCF per event type.
# ---------------------------------------------------------------------------

_HOUR_MS = 3_600_000


def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style densified hourly series per event_type: every hour
    between each type's first and last event, observed hours with exact
    integer cent sums, gap hours carrying the last observation forward."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return timeseries.bucket_gapfill_locf(
        ev, ["event_type"], "ts_ms", "cents", bucket_ms=_HOUR_MS
    )


_GAPFILL_SQL = rf"""
WITH e AS (
    SELECT event_type, epoch_ms(ts) // {_HOUR_MS} AS b,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
), obs AS (
    SELECT event_type, b, COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS s
    FROM e GROUP BY 1, 2
), rng AS (
    SELECT event_type, MIN(b) AS b0, MAX(b) AS b1 FROM obs GROUP BY 1
), grid AS (
    SELECT event_type, unnest(generate_series(b0, b1)) AS b FROM rng
), j AS (
    SELECT g.event_type, g.b, o.n_events, o.s
    FROM grid g LEFT JOIN obs o USING (event_type, b)
)
SELECT event_type, b * {_HOUR_MS} AS bucket_ms,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       last_value(s IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_cents_locf,
       n_events IS NULL AS is_gap
FROM j
"""


# ---------------------------------------------------------------------------
# Item co-occurrence: "also interacted with" top-5 per item.
# ---------------------------------------------------------------------------

_COOC_CAP = 64
_COOC_TOPK = 5
_KNN_K = 10


def _event_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    # try_cast + NOT NULL: a malformed/missing $.k must neither consume a
    # cap slot (Spark sorts NULLs first ASC, DuckDB last — engine-divergent)
    # nor blow up the oracle's cast
    return (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("try_cast(get_json_object(props, '$.k') AS LONG)").alias(
                "item"
            ),
        )
        .filter(F.col("item").isNotNull())
    )


def events_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 co-occurring items per item over the capped distinct
    (user, item) basket, with exact co-counts and integer lift_ppm."""
    pairs = cooccur.item_pairs(
        _event_items(spark, sf_dir), "user_id", "item", _COOC_CAP
    )
    return cooccur.topk_neighbors(pairs, k=_COOC_TOPK)


def _cooc_cte() -> str:
    """Shared CTE chain reproducing item_pairs + the symmetric ranking."""
    return rf"""
ui AS (
    -- TRY_CAST + NOT NULL mirrors the Spark side's malformed-k guard
    SELECT DISTINCT user_id AS u,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS i
    FROM events
    WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
), capped AS (
    SELECT u, i FROM (
        SELECT u, i, ROW_NUMBER() OVER (PARTITION BY u ORDER BY i ASC) AS rn
        FROM ui)
    WHERE rn <= {_COOC_CAP}
), nu AS (
    -- over ui, not capped: the cap keeps >= 1 item per user, so the user
    -- sets are identical and the Spark side counts the cheaper form
    SELECT COUNT(DISTINCT u) AS n_users FROM ui
),
marg AS (SELECT i, COUNT(*) AS n_i FROM capped GROUP BY 1),
p AS (
    SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_co
    FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
    GROUP BY 1, 2
), pj AS (
    SELECT item_a, item_b, n_co, ma.n_i AS n_a, mb.n_i AS n_b,
           CAST(FLOOR(1000000 * n_co * (SELECT n_users FROM nu) * 1.0
                      / (ma.n_i * mb.n_i)) AS BIGINT) AS lift_ppm
    FROM p
    JOIN marg ma ON item_a = ma.i
    JOIN marg mb ON item_b = mb.i
), sym AS (
    SELECT item_a AS item, item_b AS neighbor, n_co, lift_ppm FROM pj
    UNION ALL
    SELECT item_b AS item, item_a AS neighbor, n_co, lift_ppm FROM pj
), rk AS (
    SELECT item, neighbor, n_co, lift_ppm,
           ROW_NUMBER() OVER (PARTITION BY item
                              ORDER BY n_co DESC, neighbor ASC) AS rank
    FROM sym
)"""


_COOC_SQL = rf"""
WITH {_cooc_cte()}
SELECT item, neighbor, CAST(n_co AS BIGINT) AS n_co, lift_ppm,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= {_COOC_TOPK}
"""


# ---------------------------------------------------------------------------
# Triangle counts over the k-NN co-occurrence graph.
# ---------------------------------------------------------------------------


def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item triangle participation over the top-10-neighbor item
    graph — local clustering signal over a scale-invariant sparsification
    (an absolute co-count threshold would go empty or complete as the
    corpus grows; per-node top-k keeps density fixed)."""
    pairs = cooccur.item_pairs(
        _event_items(spark, sf_dir), "user_id", "item", _COOC_CAP, with_lift=False
    )
    return cooccur.triangle_counts(cooccur.knn_edges(pairs, k=_KNN_K))


_TRI_SQL = rf"""
WITH {_cooc_cte()},
edges AS (
    SELECT DISTINCT LEAST(item, neighbor) AS a, GREATEST(item, neighbor) AS b
    FROM rk WHERE rank <= {_KNN_K}
), tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM edges e1
    JOIN edges e2 ON e1.b = e2.a
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
), v AS (
    SELECT x AS item FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
)
SELECT item, CAST(COUNT(*) AS BIGINT) AS n_tri FROM v GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Fuzzy record linkage over part names.
# ---------------------------------------------------------------------------

_FUZZY_MAX_DIST = 3


def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-matching part-name pairs (levenshtein <= 3) via first/last-token
    blocking over the distinct-name vocabulary."""
    return linkage.fuzzy_name_pairs(
        _t(spark, sf_dir, "part"), "p_name", max_dist=_FUZZY_MAX_DIST
    )


_FUZZY_SQL = rf"""
WITH names AS (
    SELECT p_name AS name, COUNT(*) AS n FROM part GROUP BY 1
), keyed AS (
    SELECT name, n, unnest(list_distinct([
        string_split_regex(trim(name), '\s+')[1],
        string_split_regex(trim(name), '\s+')[-1]])) AS blk
    FROM names
), cand AS (
    SELECT DISTINCT a.name AS name_a, b.name AS name_b,
           a.n AS n_a, b.n AS n_b
    FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.name < b.name
)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
FROM cand WHERE levenshtein(name_a, name_b) <= {_FUZZY_MAX_DIST}
"""


# ---------------------------------------------------------------------------
# Event-sequence mining: Markov transitions + frequent paths.
# ---------------------------------------------------------------------------

_PATH_N = 3
_PATH_TOPK = 15


def _ev_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
    )


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-event transition matrix per user stream: (from, to) counts
    and integer-ppm row-conditional probabilities.  One keyed window +
    one bounded groupBy — |states|² output regardless of event volume."""
    return sequence.transition_matrix(
        _ev_seq(spark, sf_dir), ["user_id"], ["ts_ms", "event_id"], "event_type"
    )


_MARKOV_SQL = r"""
WITH e AS (
    SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events
    WHERE event_type IS NOT NULL
), t AS (
    SELECT event_type AS from_state,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts_ms ASC, event_id ASC) AS to_state
    FROM e
), c AS (
    SELECT from_state, to_state, COUNT(*) AS n
    FROM t WHERE to_state IS NOT NULL GROUP BY 1, 2
), tot AS (
    SELECT from_state, SUM(n) AS row_total FROM c GROUP BY 1
)
SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
       CAST(row_total AS BIGINT) AS row_total,
       CAST((1000000 * n) // row_total AS BIGINT) AS p_ppm
FROM c JOIN tot USING (from_state)
"""


def events_frequent_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 most frequent 3-step event-type paths across all user
    streams.  The final rank window is global but reads the path
    aggregate (<= |states|^3 rows), the corpus_mix_report shape."""
    return sequence.frequent_paths(
        _ev_seq(spark, sf_dir),
        ["user_id"],
        ["ts_ms", "event_id"],
        "event_type",
        n=_PATH_N,
        topk=_PATH_TOPK,
    )


_PATHS_SQL = rf"""
WITH e AS (
    SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events
    WHERE event_type IS NOT NULL
), g AS (
    SELECT event_type AS s0,
           LEAD(event_type, 1) OVER w AS s1,
           LEAD(event_type, 2) OVER w AS s2
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC)
), c AS (
    SELECT s0 || '>' || s1 || '>' || s2 AS path, COUNT(*) AS n_occurrences
    FROM g WHERE s2 IS NOT NULL GROUP BY 1
), r AS (
    SELECT path, n_occurrences,
           ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, path ASC) AS rank
    FROM c
)
SELECT path, CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {_PATH_TOPK}
"""


# ---------------------------------------------------------------------------
# Zone-map pruning report: z-order vs natural time order.
# ---------------------------------------------------------------------------

# 10-bit dims: at these scale factors user_id fits in 10 bits, so the
# interleave genuinely mixes both dimensions (16-bit dims would leave the
# user high bits zero and the z-prefix would degenerate to time-only)
_ZP_BITS = 10
_ZP_U = "u10"
_ZP_T = "t10"
_ZP_LO, _ZP_HI = 32, 95  # probe: a 64-user id range


def layout_pruning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified data skipping for a user-id range scan under two
    layouts of the same events: natural time order (ingestion reality —
    64-minute stripes) vs z-order blocks (z-code high bits).  Time-sorted
    blocks cannot prune a user predicate (every stripe sees every user);
    z-blocks bound both dimensions, so the same scan touches a fraction.
    The scanned/matched ratio in the output is the measured layout
    quality — the reason OPTIMIZE ZORDER exists."""
    from ..operators.layout import pruning_report, zorder_code

    ev = _t(spark, sf_dir, "events")
    prepped = ev.select(
        (F.col("user_id") % 1024).alias(_ZP_U),
        F.expr("(unix_millis(cast(ts as timestamp)) div 60000 div 64) % 1024").alias(
            _ZP_T
        ),
    ).withColumn("zcode", zorder_code(_ZP_U, _ZP_T, _ZP_BITS))
    by_time = pruning_report(
        prepped, "by_time", _ZP_T, _ZP_U, _ZP_LO, _ZP_HI
    )
    by_z = pruning_report(
        prepped, "zorder", f"zcode >> {_ZP_BITS}", _ZP_U, _ZP_LO, _ZP_HI
    )
    return by_time.unionByName(by_z)


def _zp_sql() -> str:
    from ..operators.layout import pruning_report_sql, zorder_expr_sql

    prep = f"""
prepped AS (
    SELECT user_id % 1024 AS {_ZP_U},
           (epoch_ms(ts) // 60000 // 64) % 1024 AS {_ZP_T}
    FROM events
), coded AS (
    SELECT {_ZP_U}, {_ZP_T},
           {zorder_expr_sql(_ZP_U, _ZP_T, _ZP_BITS)} AS zcode
    FROM prepped
)"""
    a = pruning_report_sql("coded", "by_time", _ZP_T, _ZP_U, _ZP_LO, _ZP_HI)
    b = pruning_report_sql(
        "coded", "zorder", f"zcode >> {_ZP_BITS}", _ZP_U, _ZP_LO, _ZP_HI
    )
    return f"WITH {prep}\n{a}\nUNION ALL\n{b}"


_ZPRUNE_SQL = _zp_sql()


QUERIES = {
    "cdc_apply_latest": cdc_apply_latest,
    "cdc_scd2_history": cdc_scd2_history,
    "events_hourly_gapfill": events_hourly_gapfill,
    "events_item_cooccurrence": events_item_cooccurrence,
    "graph_triangle_counts": graph_triangle_counts,
    "fuzzy_part_name_pairs": fuzzy_part_name_pairs,
    "layout_pruning_report": layout_pruning_report,
    "events_markov_transitions": events_markov_transitions,
    "events_frequent_paths": events_frequent_paths,
}

ORACLES = {
    "cdc_apply_latest": _CDC_SQL,
    "cdc_scd2_history": _SCD2_SQL,
    "events_hourly_gapfill": _GAPFILL_SQL,
    "events_item_cooccurrence": _COOC_SQL,
    "graph_triangle_counts": _TRI_SQL,
    "fuzzy_part_name_pairs": _FUZZY_SQL,
    "layout_pruning_report": _ZPRUNE_SQL,
    "events_markov_transitions": _MARKOV_SQL,
    "events_frequent_paths": _PATHS_SQL,
}


# ---------------------------------------------------------------------------
# Weak-supervision topic labeling over the documents corpus.
# ---------------------------------------------------------------------------

# human-curated domain lexicons over the corpus vocabulary (the labeling
# functions a pipeline routes/mixes corpora by)
_TOPIC_LEXICONS = {
    "join": ["join", "merge", "hash", "key"],
    "scan": ["scan", "filter", "row", "column", "table"],
    "stream": ["stream", "window", "batch"],
    "agg": ["agg", "group", "sort", "order"],
}


def corpus_topic_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-lexicon topic assignment per document: occurrence-count
    scores for 4 domain lexicons + argmax label (ties -> topic name asc,
    all-zero -> 'other').  Zero-shuffle pure-array projection; composes
    over readStream like the rest of the text-scoring family."""
    from ..operators.labeling import topic_labels

    return topic_labels(_t(spark, sf_dir, "documents"), _TOPIC_LEXICONS)


def _topic_sql() -> str:
    from ..operators.labeling import topic_labels_oracle_sql

    return topic_labels_oracle_sql(_TOPIC_LEXICONS)


QUERIES["corpus_topic_labels"] = corpus_topic_labels
ORACLES["corpus_topic_labels"] = _topic_sql()


# ---------------------------------------------------------------------------
# Sparse lexical cosine top-k (tf-idf vector-space retrieval).
# ---------------------------------------------------------------------------


def text_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 lexically-nearest documents per md5-sampled query doc under
    integer tf·log2-idf cosine — the sparse sibling of
    embedding_cosine_topk (see operators/retrieval.py for the
    stop-term-pruning weighting and the exactly-rounded cosine).

    max_df_bp=9000 is the live stop-term guard: terms in >90% of
    documents are pruned before the inverted-index join, bounding the
    worst posting list on Zipfian corpora.  This corpus's flat df
    profile (~80% everywhere) sits under the cap, so results are
    unchanged while the guard is exercised end-to-end."""
    from ..operators.retrieval import sparse_cosine_topk

    return sparse_cosine_topk(_t(spark, sf_dir, "documents"), max_df_bp=9000)


def _sparse_cos_sql() -> str:
    from ..operators.retrieval import sparse_cosine_oracle_sql

    return sparse_cosine_oracle_sql(max_df_bp=9000)


QUERIES["text_sparse_cosine_topk"] = text_sparse_cosine_topk
ORACLES["text_sparse_cosine_topk"] = _sparse_cos_sql()


# ---------------------------------------------------------------------------
# Bigram LM scoring with stupid backoff.
# ---------------------------------------------------------------------------


def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (stupid backoff to unigram) against the
    same deterministic 20% reference slice text_lm_surprisal trains on —
    one order up, catching word-salad docs whose unigram profile is
    clean.  All-integer log2 buckets; see operators/lm_score.py."""
    from ..operators.lm_score import bigram_surprisal_scores
    from ..operators.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(hash_bucket(F.col("doc_id"), "lmref") < 2000)
    return bigram_surprisal_scores(docs, ref, flag_high=14.0)


def _bigram_lm_sql() -> str:
    from ..operators.lm_score import bigram_surprisal_oracle_sql

    return bigram_surprisal_oracle_sql(
        ref_filter=(
            "(('0x' || substr(md5('lmref:' || doc_id), 1, 15))::BIGINT"
            " % 10000) < 2000"
        ),
        flag_high=14.0,
    )


QUERIES["text_bigram_surprisal"] = text_bigram_surprisal
ORACLES["text_bigram_surprisal"] = _bigram_lm_sql()


# ---------------------------------------------------------------------------
# Snapshot diff: reconstruct the changelog between two snapshots.
# ---------------------------------------------------------------------------

_DIFF_CUT_MS = 1_705_363_200_000  # 2024-01-16T00:00:00Z — mid-corpus


def _snap(spark: SparkSession, sf_dir: str, before_ms: int | None) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("event_type").alias("op"),
        F.unix_millis("ts").alias("ts_ms"),
        F.round("value", 2).alias("value"),
    )
    if before_ms is not None:
        ev = ev.filter(F.col("ts_ms") < before_ms)
    snap = cdc_latest(ev, ["user_id"], ["ts_ms", "event_id"], "op", ["error"])
    return snap.select(
        "user_id",
        F.col("ts_ms").alias("last_ts_ms"),
        F.col("op").alias("last_op"),
        F.col("value").alias("last_value"),
    )


def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverse of changelog application: diff the mid-month latest-
    state snapshot against the full one and emit the insert/update/delete
    changelog that reconciles them — what a warehouse computes when
    upstream cannot emit CDC.  One full-outer hash join on the key;
    unchanged keys emit nothing (operators/cdc.py::snapshot_diff)."""
    old = _snap(spark, sf_dir, _DIFF_CUT_MS)
    new = _snap(spark, sf_dir, None)
    return snapshot_diff(
        old, new, ["user_id"], ["last_ts_ms", "last_op", "last_value"]
    )


_SNAP_DIFF_SQL = rf"""
WITH e AS (
    SELECT user_id, event_id, event_type AS op, epoch_ms(ts) AS ts_ms,
           ROUND(value, 2) AS value
    FROM events
), snap_old AS (
    SELECT user_id, ts_ms AS last_ts_ms, op AS last_op, value AS last_value
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts_ms DESC, event_id DESC) AS rn
          FROM e WHERE ts_ms < {_DIFF_CUT_MS})
    WHERE rn = 1 AND op <> 'error'
), snap_new AS (
    SELECT user_id, ts_ms AS last_ts_ms, op AS last_op, value AS last_value
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts_ms DESC, event_id DESC) AS rn
          FROM e)
    WHERE rn = 1 AND op <> 'error'
), j AS (
    SELECT COALESCE(n.user_id, o.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'insert'
                WHEN n.user_id IS NULL THEN 'delete'
                WHEN o.last_ts_ms IS DISTINCT FROM n.last_ts_ms
                  OR o.last_op IS DISTINCT FROM n.last_op
                  OR o.last_value IS DISTINCT FROM n.last_value THEN 'update'
           END AS op,
           CASE WHEN n.user_id IS NOT NULL THEN n.last_ts_ms END AS last_ts_ms,
           CASE WHEN n.user_id IS NOT NULL THEN n.last_op END AS last_op,
           CASE WHEN n.user_id IS NOT NULL THEN n.last_value END AS last_value
    FROM snap_old o FULL OUTER JOIN snap_new n ON o.user_id = n.user_id
)
SELECT user_id, op, last_ts_ms, last_op, last_value
FROM j WHERE op IS NOT NULL
"""


QUERIES["cdc_snapshot_diff"] = cdc_snapshot_diff
ORACLES["cdc_snapshot_diff"] = _SNAP_DIFF_SQL


# ---------------------------------------------------------------------------
# Trailing 7-day RANGE-frame aggregates per user.
# ---------------------------------------------------------------------------

_TRAIL_MS = 7 * 24 * 3_600_000


def events_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 7-day count and cent-sum for the same user — a
    time-RANGE window frame (ROW frames can't express irregular spacing;
    a range self-join would shuffle the table twice).  See
    operators/timeseries.py::trailing_range_sums."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return timeseries.trailing_range_sums(
        ev, ["user_id"], "ts_ms", "cents", _TRAIL_MS, carry_cols=["event_id"]
    )


_TRAIL_SQL = rf"""
WITH e AS (
    SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
)
SELECT user_id, event_id, ts_ms,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing,
       CAST(SUM(cents) OVER w AS BIGINT) AS cents_trailing
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms ASC
             RANGE BETWEEN {_TRAIL_MS} PRECEDING AND CURRENT ROW)
"""


QUERIES["events_trailing_7d"] = events_trailing_7d
ORACLES["events_trailing_7d"] = _TRAIL_SQL


# ---------------------------------------------------------------------------
# Skew diagnosis + storage-encoding advisor.
# ---------------------------------------------------------------------------


def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest lineitem supplier keys with integer-ppm skew vs the
    mean key weight — the number read before choosing a salt factor or
    trusting AQE's skew split (operators/skew.py::key_skew_report).  The
    1-row totals join is the sanctioned q22-style scalar BNLJ."""
    from ..operators.skew import key_skew_report

    return key_skew_report(_t(spark, sf_dir, "lineitem"), "l_suppkey", topk=10)


def _skew_report_sql() -> str:
    from ..operators.skew import key_skew_oracle_sql

    return key_skew_oracle_sql("lineitem", "l_suppkey", topk=10)


def layout_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-vs-plain encoding audit over three events columns with
    exact cardinality/byte stats (operators/layout.py::encoding_advisor):
    event_type (5 distinct -> dictionary), props and ts_ms (high-card ->
    plain)."""
    from ..operators.layout import encoding_advisor

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "props", F.unix_millis("ts").alias("ts_ms")
    )
    return encoding_advisor(ev, ["event_type", "props", "ts_ms"])


def _enc_advisor_sql() -> str:
    from ..operators.layout import encoding_advisor_sql

    return encoding_advisor_sql(
        "(SELECT event_type, props, epoch_ms(ts) AS ts_ms FROM events)",
        ["event_type", "props", "ts_ms"],
    )


QUERIES["skew_key_report"] = skew_key_report
ORACLES["skew_key_report"] = _skew_report_sql()
QUERIES["layout_encoding_advisor"] = layout_encoding_advisor
ORACLES["layout_encoding_advisor"] = _enc_advisor_sql()


# ---------------------------------------------------------------------------
# Label-propagation communities over the k-NN item graph.
# ---------------------------------------------------------------------------

_LPA_ITERS = 3


def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration synchronous label propagation over the same top-10-
    neighbor item graph triangle counting uses — community assignment per
    item with the min-label tie-break (operators/graph.py)."""
    from ..operators import graph as gr

    pairs = cooccur.item_pairs(
        _event_items(spark, sf_dir), "user_id", "item", _COOC_CAP, with_lift=False
    )
    return gr.label_propagation(cooccur.knn_edges(pairs, k=_KNN_K), _LPA_ITERS)


def _lpa_sql() -> str:
    from ..operators import graph as gr

    edges_sql = (
        f"WITH {_cooc_cte()} "
        f"SELECT DISTINCT LEAST(item, neighbor) AS a, "
        f"GREATEST(item, neighbor) AS b FROM rk WHERE rank <= {_KNN_K}"
    )
    # the co-occurrence chain must live INSIDE the edges CTE: wrap it as a
    # subquery so the outer unrolled-LPA WITH stays flat
    edges_subq = f"SELECT * FROM ({edges_sql.replace('WITH', 'WITH', 1)})"
    return (
        "WITH "
        + gr.label_propagation_oracle_cte(edges_subq, _LPA_ITERS)
        + f"\nSELECT v AS node, community FROM l{_LPA_ITERS}"
    )


QUERIES["graph_lpa_communities"] = graph_lpa_communities
ORACLES["graph_lpa_communities"] = _lpa_sql()


def events_double_exp_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 1-step-ahead daily-volume forecast via Holt's
    double-exponential smoothing in int64 fixed-point
    (operators/timeseries.py::double_exponential_forecast — fixed 14-day
    horizon unrolled, div truncation identical in both engines, oracle
    replays every smoothing step as CTEs).  The capacity-planning query:
    'how many events of each type tomorrow?' as a checked operator."""
    ev = _t(spark, sf_dir, "events")
    return timeseries.double_exponential_forecast(ev, ["event_type"], "ts", 14)


QUERIES["events_double_exp_forecast"] = events_double_exp_forecast
ORACLES["events_double_exp_forecast"] = timeseries.double_exp_oracle_sql(
    "events", ["event_type"], "ts", 14
)


def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM drift report: daily deviations from the
    launch-week baseline accumulated cross-multiplied (all-integer, see
    operators/timeseries.py::cusum_changepoints) with a
    |cusum| > 50%-of-baseline flag — 'did volume drift, and on which
    day?' as a checked query."""
    ev = _t(spark, sf_dir, "events")
    return timeseries.cusum_changepoints(ev, ["event_type"], "ts")


QUERIES["events_cusum_drift"] = events_cusum_drift
ORACLES["events_cusum_drift"] = timeseries.cusum_oracle_sql("events", ["event_type"], "ts")


def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast model backtest as a query: for each event type, score the
    naive-yesterday and seasonal-naive-last-week predictors over the
    final week (days 21-27) of the daily series, emitting integer total
    absolute errors and the winner.  Model selection belongs in the
    pipeline's checked path, not a notebook: at 100 TB this is one
    conditional-aggregate pass + a per-key lag window over a |keys|×days
    aggregate, and the winning model name feeds the forecasting job's
    config.  Errors are exact integer sums; the winner tie-breaks to the
    simpler naive model."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    anchor = ev.select(F.min(F.to_date("ts")).alias("d")).first()["d"]
    idx = F.datediff(F.to_date("ts"), F.lit(anchor))
    daily = (
        ev.filter((idx >= 0) & (idx < 28))
        .groupBy("event_type", idx.alias("day_idx"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = W.partitionBy("event_type").orderBy("day_idx")
    scored = daily.select(
        "event_type",
        "day_idx",
        "n",
        F.lag("n", 1).over(w).alias("pred_naive"),
        F.lag("n", 7).over(w).alias("pred_seasonal"),
    ).filter(F.col("day_idx") >= 21)
    return scored.groupBy("event_type").agg(
        F.sum(F.abs(F.col("n") - F.col("pred_naive"))).cast("long").alias("ae_naive"),
        F.sum(F.abs(F.col("n") - F.col("pred_seasonal")))
        .cast("long")
        .alias("ae_seasonal"),
    ).withColumn(
        "winner",
        F.when(F.col("ae_naive") <= F.col("ae_seasonal"), "naive").otherwise(
            "seasonal"
        ),
    )


_BACKTEST_SQL = """
WITH a AS (SELECT MIN(CAST(ts AS DATE)) AS anchor FROM events),
daily AS (
  SELECT event_type,
         datediff('day', a.anchor, CAST(ts AS DATE)) AS day_idx,
         COUNT(*)::BIGINT AS n
  FROM events, a
  WHERE datediff('day', a.anchor, CAST(ts AS DATE)) >= 0
    AND datediff('day', a.anchor, CAST(ts AS DATE)) < 28
  GROUP BY 1, 2
),
scored AS (
  SELECT event_type, day_idx, n,
         lag(n, 1) OVER (PARTITION BY event_type ORDER BY day_idx) AS pred_naive,
         lag(n, 7) OVER (PARTITION BY event_type ORDER BY day_idx) AS pred_seasonal
  FROM daily
)
SELECT event_type,
       SUM(abs(n - pred_naive))::BIGINT AS ae_naive,
       SUM(abs(n - pred_seasonal))::BIGINT AS ae_seasonal,
       CASE WHEN SUM(abs(n - pred_naive)) <= SUM(abs(n - pred_seasonal))
            THEN 'naive' ELSE 'seasonal' END AS winner
FROM scored WHERE day_idx >= 21
GROUP BY event_type
"""

QUERIES["events_forecast_backtest"] = events_forecast_backtest
ORACLES["events_forecast_backtest"] = _BACKTEST_SQL


def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type seasonal forecast: additive Holt-Winters (level +
    trend + weekly seasonality) in int64 fixed-point over a fixed 28-day
    horizon — the seasonal completion of events_double_exp_forecast,
    oracle-replayed step by step (operators/timeseries.py::
    holt_winters_forecast)."""
    ev = _t(spark, sf_dir, "events")
    return timeseries.holt_winters_forecast(ev, ["event_type"], "ts", 28, 7)


QUERIES["events_holt_winters"] = events_holt_winters
ORACLES["events_holt_winters"] = timeseries.holt_winters_oracle_sql(
    "events", ["event_type"], "ts", 28, 7
)


def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the governance sibling of
    PII redaction: rows whose (event_type, day, value-decile) combination
    is shared by fewer than k=5 users are re-identification risks.  Emits
    one row per quasi-identifier group: ``(event_type, day, value_bucket,
    n_rows, n_users, at_risk)``.  The audit a release review runs before
    publishing derived event data, as a checked query: one groupBy with
    map-side partials + an exact distinct-user count per group (the
    group is the shuffle key; no global pass)."""
    ev = _t(spark, sf_dir, "events")
    day = F.to_date("ts")
    bucket = F.expr("CAST(floor(value) AS BIGINT) div 10")
    g = ev.groupBy(
        "event_type", day.alias("day"), bucket.alias("value_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    return g.select(
        "event_type",
        F.unix_date(F.col("day")).cast("long").alias("day_idx"),
        "value_bucket",
        "n_rows",
        "n_users",
        (F.col("n_users") < 5).alias("at_risk"),
    )


_K_ANON_SQL = """
SELECT event_type,
       datediff('day', DATE '1970-01-01', CAST(ts AS DATE))::BIGINT AS day_idx,
       CAST(floor(value) AS BIGINT) // 10 AS value_bucket,
       COUNT(*)::BIGINT AS n_rows,
       COUNT(DISTINCT user_id)::BIGINT AS n_users,
       COUNT(DISTINCT user_id) < 5 AS at_risk
FROM events
GROUP BY 1, 2, 3
"""

QUERIES["events_k_anonymity"] = events_k_anonymity
ORACLES["events_k_anonymity"] = _K_ANON_SQL


def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation, quartiled WITHIN each market segment —
    the classic warehouse marketing query with the fleet\'s scale shape:
    per customer, Recency (days from last order to the corpus max date),
    Frequency (order count), Monetary (integer-cent revenue), each
    NTILE(4)-ed against the customer\'s c_mktsegment peers under a total
    order (metric, then custkey — ties cannot flip across engines), and
    composed into a 3-digit code (111 = best).  Within-peer-group
    quartiles are both the useful business comparison AND the
    partitioned-window plan the scale gate demands — the first cut of
    this query used global NTILEs and test_every_registered_query_plan_
    is_scale_clean REJECTED it (a global sort of every customer), which
    is exactly the regression the gate exists to catch.  One orders
    aggregate + a customer-dimension equi-join (planner-sized, no
    broadcast hint — customers scale with SF) + three windows keyed on
    the market."""
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    from pyspark.sql import Window as W

    maxd = od.select(F.max(F.to_date("o_orderdate")).alias("d")).first()["d"]
    per = od.groupBy("o_custkey").agg(
        F.datediff(F.lit(maxd), F.max(F.to_date("o_orderdate")))
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    ).join(
        # per-customer dimension: |customers| grows with SF, so no
        # broadcast hint (r5 gate bug class) — planner decides from size
        cu.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
        "o_custkey",
    )
    seg = W.partitionBy("c_mktsegment")
    r_w = seg.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc())
    f_w = seg.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc())
    m_w = seg.orderBy(F.col("monetary_cents").desc(), F.col("o_custkey").asc())
    return per.select(
        F.col("o_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(4).over(r_w).cast("long").alias("r_quartile"),
        F.ntile(4).over(f_w).cast("long").alias("f_quartile"),
        F.ntile(4).over(m_w).cast("long").alias("m_quartile"),
    ).withColumn(
        "segment",
        (
            F.col("r_quartile") * 100 + F.col("f_quartile") * 10 + F.col("m_quartile")
        ).cast("long"),
    )


_RFM_SQL = """
WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
per AS (
  SELECT o_custkey, c_mktsegment,
         datediff('day', MAX(CAST(o_orderdate AS DATE)), mx.d)::BIGINT AS recency_days,
         COUNT(*)::BIGINT AS frequency,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS monetary_cents
  FROM orders JOIN customer ON o_custkey = c_custkey, mx
  GROUP BY o_custkey, c_mktsegment, mx.d
)
SELECT o_custkey AS custkey, c_mktsegment AS mktsegment,
       recency_days, frequency, monetary_cents,
       NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY recency_days ASC, o_custkey ASC)::BIGINT AS r_quartile,
       NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY frequency DESC, o_custkey ASC)::BIGINT AS f_quartile,
       NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY monetary_cents DESC, o_custkey ASC)::BIGINT AS m_quartile,
       (NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY recency_days ASC, o_custkey ASC) * 100
        + NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY frequency DESC, o_custkey ASC) * 10
        + NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY monetary_cents DESC, o_custkey ASC))::BIGINT AS segment
FROM per
"""

QUERIES["customers_rfm_segments"] = customers_rfm_segments
ORACLES["customers_rfm_segments"] = _RFM_SQL


# ---------------------------------------------------------------------------
# Point-in-time (temporal) join: facts enriched with the SCD2 version that
# was valid when the fact happened.
# ---------------------------------------------------------------------------


def cdc_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich every purchase event with the user's SCD2 state version
    valid AT the purchase instant — the warehouse temporal join (Delta/
    Iceberg "FOR SYSTEM_TIME AS OF" per-row): versions come from
    cdc_scd2_history over the same changelog; a purchase matches the
    version with ``valid_from <= ts < valid_to``.

    Spark-first shape: the interval lookup is the BACKWARD AS-OF join on
    valid_from (operators/joins.py::asof_join — one union + one keyed
    window, no range-join explosion), followed by the valid_to filter
    that voids matches falling in a tombstone gap.  Empty versions (two
    changes in the same millisecond: the earlier one's interval is
    [t, t)) are pre-filtered so the as-of pick is deterministic.
    A purchase with no live version (after a tombstone, before the next
    change) keeps its row with NULL state — the auditable gap, not a
    dropped fact."""
    from ..operators.joins import asof_join

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("event_type").alias("op"),
        F.unix_millis("ts").alias("ts_ms"),
        F.round("value", 2).alias("value"),
    )
    hist = scd2_history(
        ev,
        key_cols=["user_id"],
        ts_col="ts_ms",
        tiebreak_cols=["event_id"],
        op_col="op",
        delete_ops=["error"],
    ).filter(F.col("valid_to").isNull() | (F.col("valid_from") < F.col("valid_to")))
    versions = hist.select(
        "user_id",
        F.timestamp_millis(F.col("valid_from")).alias("vts"),
        F.col("value").alias("v_value"),
        F.col("valid_from").alias("v_from_ms"),
        F.col("valid_to").alias("v_to_ms"),
    )
    buys = ev.filter(F.col("op") == "purchase").select(
        "user_id", "event_id", "ts_ms",
        F.timestamp_millis(F.col("ts_ms")).alias("bts"),
    )
    joined = asof_join(
        buys,
        versions,
        keys=["user_id"],
        left_ts="bts",
        right_ts="vts",
        right_values=["v_value", "v_from_ms", "v_to_ms"],
    )
    live = F.col("v_from_ms").isNotNull() & (
        F.col("v_to_ms").isNull() | (F.col("ts_ms") < F.col("v_to_ms"))
    )
    return joined.select(
        "user_id",
        "event_id",
        "ts_ms",
        F.when(live, F.col("v_value")).alias("state_value"),
        F.when(live, F.col("v_from_ms")).cast("long").alias("state_from_ms"),
        live.alias("has_state"),
    )


_PIT_SQL = r"""
WITH e AS (
    SELECT user_id, event_id, event_type AS op, epoch_ms(ts) AS ts_ms,
           ROUND(value, 2) AS value
    FROM events
), v AS (
    SELECT *,
           LEAD(ts_ms) OVER (PARTITION BY user_id
                             ORDER BY ts_ms ASC, event_id ASC) AS valid_to
    FROM e
), ver AS (
    SELECT user_id, value AS v_value, ts_ms AS v_from_ms, valid_to AS v_to_ms
    FROM v
    WHERE op <> 'error' AND (valid_to IS NULL OR ts_ms < valid_to)
), b AS (
    SELECT user_id, event_id, ts_ms FROM e WHERE op = 'purchase'
)
SELECT b.user_id, b.event_id, b.ts_ms,
       ver.v_value AS state_value,
       CAST(ver.v_from_ms AS BIGINT) AS state_from_ms,
       ver.v_from_ms IS NOT NULL AS has_state
FROM b LEFT JOIN ver
  ON b.user_id = ver.user_id
 AND ver.v_from_ms <= b.ts_ms
 AND (ver.v_to_ms IS NULL OR b.ts_ms < ver.v_to_ms)
"""

QUERIES["cdc_point_in_time_join"] = cdc_point_in_time_join
ORACLES["cdc_point_in_time_join"] = _PIT_SQL


def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user LOCF time-weighted average of the event value — the
    hypertable ``time_weight`` aggregate (an arithmetic mean over-weights
    sampling bursts; the step-function integral does not).  Int64
    cents×ms integral, one rounded division (operators/timeseries.py::
    time_weighted_avg)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        "event_id",
    )
    # event_id tiebreak: same-ms observations otherwise make the gap
    # carrier (last tied row) nondeterministic — the cdc_point_in_time
    # convention applied here.
    return timeseries.time_weighted_avg(
        ev, ["user_id"], "ts_ms", "cents", tiebreak_col="event_id"
    )


_TWA_SQL = timeseries.time_weighted_avg_oracle_sql(
    "events",
    ["user_id"],
    "epoch_ms(ts)",
    "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)",
    tiebreak_expr="event_id",
)

QUERIES["events_time_weighted_avg"] = events_time_weighted_avg
ORACLES["events_time_weighted_avg"] = _TWA_SQL


def events_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB viz downsampling: each event_type's value series reduced to 20
    shape-preserving points (parallel fixed-anchor variant, exact
    decimal/HUGEINT cross-product scoring — operators/timeseries.py::
    lttb_downsample)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return timeseries.lttb_downsample(
        ev, ["event_type"], "ts_ms", "cents", n_out=20, tiebreak_col="event_id"
    )


_LTTB_SQL = timeseries.lttb_oracle_sql(
    "events",
    ["event_type"],
    "epoch_ms(ts)",
    "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)",
    n_out=20,
    tiebreak_expr="event_id",
)

QUERIES["events_lttb_downsample"] = events_lttb_downsample
ORACLES["events_lttb_downsample"] = _LTTB_SQL


def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) candlestick bars per event type —
    the financial/telemetry bucket aggregate.  Open/close are the
    first/last value by (ts, event_id) within the bucket, expressed as
    min/max over (ts, event_id, value) structs — pure map-side partials,
    one exchange on (type, day), no window sort.  All values integer
    cents."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_millis(ts) div 86400000").cast("long").alias("day"),
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return timeseries.ohlc_bars(ev, ["event_type"])


_OHLC_SQL = r"""
WITH e AS (
    SELECT event_type, epoch_ms(ts) // 86400000 AS day, epoch_ms(ts) AS ts_ms,
           event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
)
SELECT event_type, CAST(day AS BIGINT) AS day,
       MIN(struct_pack(t := ts_ms, e := event_id, c := cents)).c AS open,
       MAX(cents) AS high,
       MIN(cents) AS low,
       MAX(struct_pack(t := ts_ms, e := event_id, c := cents)).c AS close,
       COUNT(*)::BIGINT AS n_events
FROM e GROUP BY 1, 2
"""

QUERIES["events_ohlc_bars"] = events_ohlc_bars
ORACLES["events_ohlc_bars"] = _OHLC_SQL


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) via the classic two-phase distributed plan.
# ---------------------------------------------------------------------------


def parts_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-efficient parts on (price, size): no other part is <= on
    both dimensions and < on at least one — the skyline operator
    (Börzsönyi et al. 2001), the "best tradeoffs" query optimizers ship
    as SKYLINE OF.

    Scale plan is the textbook TWO-PHASE distributed skyline: local
    skylines per hash partition first (a skyline point survives any
    partition it lands in; a dominated point is eliminated wherever its
    dominator lands — phase 2 input therefore still contains every true
    skyline point and every true dominator needed to finish the job),
    then the exact skyline over the pruned union.  Phase-1 windows are
    salt-partitioned; phase-2's global windows read only local-skyline
    survivors — expected O(partitions · log n) for independent dims
    (~60 rows here vs 20 k parts), the documented bounded-input
    allowance of the global-window gate (anti-correlated dimensions are
    the known worst case and would surface as phase-2 input growth).

    The dominance test itself is sort-based, not a quadratic self-join:
    ordered by price, a point is dominated iff a strictly-cheaper row
    has size <= its size (running RANGE-frame min) or a same-price row
    has strictly smaller size (price-group min).  Integer cents/sizes —
    no float comparisons anywhere."""
    from pyspark.sql import Window

    S = 16

    def _skyline(df, part_cols):
        w_lt = (
            Window.partitionBy(*part_cols)
            .orderBy(F.col("price_cents").asc())
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        w_eq = Window.partitionBy(*part_cols, "price_cents")
        return (
            df.withColumn("m_cheaper", F.min("p_size").over(w_lt))
            .withColumn("m_group", F.min("p_size").over(w_eq))
            .filter(
                (F.col("m_cheaper").isNull() | (F.col("m_cheaper") > F.col("p_size")))
                & (F.col("p_size") == F.col("m_group"))
            )
            .drop("m_cheaper", "m_group")
        )

    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    salted = part.withColumn("salt", F.pmod(F.col("p_partkey"), F.lit(S)))
    local = _skyline(salted, ["salt"]).drop("salt")
    return _skyline(local, [])


_SKYLINE_SQL = r"""
WITH p AS (
    SELECT p_partkey,
           CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
           CAST(p_size AS BIGINT) AS p_size
    FROM part
), m AS (
    -- single-phase sort-based skyline: identical result to the engine's
    -- two-phase plan (local pruning never removes a skyline point)
    SELECT *,
           MIN(p_size) OVER (ORDER BY price_cents
                             RANGE BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS m_cheaper,
           MIN(p_size) OVER (PARTITION BY price_cents) AS m_group
    FROM p
)
SELECT p_partkey, price_cents, p_size
FROM m
WHERE (m_cheaper IS NULL OR m_cheaper > p_size) AND p_size = m_group
"""

QUERIES["parts_price_size_skyline"] = parts_price_size_skyline
ORACLES["parts_price_size_skyline"] = _SKYLINE_SQL


def events_robust_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-resistant trend per event type: Mann-Kendall S + the
    Theil-Sen median pairwise slope over 30 daily counts (exact integer
    statistics — operators/timeseries.py::robust_trend; the robust
    complement of the Holt/OLS forecasting family, immune to the single
    anomalous day that drags a least-squares slope)."""
    return timeseries.robust_trend(
        _t(spark, sf_dir, "events"), ["event_type"], "ts", n_days=30
    )


_ROBUST_TREND_SQL = timeseries.robust_trend_oracle_sql(
    "events", ["event_type"], "ts", n_days=30
)

QUERIES["events_robust_trend"] = events_robust_trend
ORACLES["events_robust_trend"] = _ROBUST_TREND_SQL


def events_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test harness: users deterministically hash-split
    50/50 into variants A/B (the train_val_test_split machinery — stable
    under retries, uncorrelated with behavior), conversion = user made
    >= 1 purchase with value > 9.0 (every user purchases SOMETHING in
    this dataset, so bare did-purchase is degenerate at p = 1 and the
    pooled variance collapses — caught by the ANSI divide-by-zero the
    first cut hit); one report row with counts, conversion rates and the
    pooled-variance z statistic.  Counts are exact integers; the z is
    one identical float expression in both dialects, ROUND(4) — the
    cosine/KMV float discipline.  Under the null (hash split) z ~ N(0,1),
    so |z| > 2 here would indicate a broken split, not a treatment.

    Shape: one distinct-user aggregate + one conditional aggregate —
    map-side partials, a 2-row intermediate, scalar-sized output."""
    from ..operators.sampling import hash_bucket

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("value") > 9.0))
            .cast("int")
        ).alias("conv")
    )
    tagged = per_user.withColumn(
        "variant",
        F.when(hash_bucket(F.col("user_id"), "ab") < 5000, F.lit("A")).otherwise(
            F.lit("B")
        ),
    )
    agg = tagged.groupBy().agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("variant") == "A", F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("variant") == "B", F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    # identical float formula shape in both dialects (see _AB_SQL); the
    # `* 1.0` promotions matter: Spark ANSI `/` on integers is INTEGRAL
    # division (p would floor to 0 and the z denominator to sqrt(0))
    # while DuckDB's `/` is float division — explicit promotion makes
    # both engines evaluate the same double ops
    z = F.expr(
        "CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b"
        " THEN NULL ELSE"
        " (conv_a * 1.0 / n_a - conv_b * 1.0 / n_b) / sqrt("
        " ((conv_a + conv_b) * 1.0 / (n_a + n_b))"
        " * (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b))"
        " * (1.0 / n_a + 1.0 / n_b)) END"
    )
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        # CAST to DOUBLE (not `* 1.0`): the decimal literal would make
        # round() emit decimal(27,4) while DuckDB's ROUND yields DOUBLE,
        # failing the driver's schema_match (fleet convention,
        # plans/__init__.py: float aggregates round to matching types).
        F.round(F.expr("CAST(conv_a AS DOUBLE) / n_a"), 4).alias("rate_a"),
        F.round(F.expr("CAST(conv_b AS DOUBLE) / n_b"), 4).alias("rate_b"),
        F.round(z, 4).alias("z_score"),
    )


_AB_SQL = r"""
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase' AND value > 9.0
                    THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY 1
), tagged AS (
    SELECT conv,
           CASE WHEN (('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT
                      % 10000) < 5000
                THEN 'A' ELSE 'B' END AS variant
    FROM per_user
), agg AS (
    SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
           CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
    FROM tagged
)
SELECT n_a, conv_a, n_b, conv_b,
       ROUND(conv_a * 1.0 / n_a, 4) AS rate_a,
       ROUND(conv_b * 1.0 / n_b, 4) AS rate_b,
       ROUND(CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
                  THEN NULL ELSE
             (conv_a * 1.0 / n_a - conv_b * 1.0 / n_b) / sqrt(
           ((conv_a + conv_b) * 1.0 / (n_a + n_b))
           * (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
           * (1.0 / n_a + 1.0 / n_b)) END, 4) AS z_score
FROM agg
"""

QUERIES["events_ab_test_report"] = events_ab_test_report
ORACLES["events_ab_test_report"] = _AB_SQL


_DAY_MS = 86_400_000


def events_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single level-shift day per event_type over the daily event
    count series — depth-1 binary segmentation (the offline companion to
    events_cusum_drift's online detector).  Exact integer SSE-reduction
    argmax in decimal(38,0)/HUGEINT (operators/timeseries.py::
    changepoint_binseg); ONE exchange on event_type, stacked windows."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.withColumn("day", F.expr("unix_millis(ts) div 86400000"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return timeseries.changepoint_binseg(daily, ["event_type"], "day", "cnt")


_BINSEG_SQL = timeseries.changepoint_binseg_oracle_sql(
    "(SELECT event_type, epoch_ms(ts) // 86400000 AS day, "
    "CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2)",
    ["event_type"],
    "day",
    "cnt",
)

QUERIES["events_changepoint_binseg"] = events_changepoint_binseg
ORACLES["events_changepoint_binseg"] = _BINSEG_SQL


def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style LAST-TOUCH conversion attribution: every
    ``purchase`` is credited to the most recent prior ``view``/``click``
    touch by the same user within a 7-day lookback (ties on the same
    millisecond broken by event_id, the fleet's tiebreak convention).
    Report: per touch channel — attributed conversions, attributed
    revenue (cents), and unattributed purchases as channel 'none'.

    Shape: ONE exchange on user_id; the carried last-touch is a running
    ``last(ignorenulls)`` over the per-user event sequence — the LOCF
    idiom (gapfill/CcdC family), no self-join, no range explosion: at
    100 TB this is a window scan, where the naive events⋈events
    time-range join would shuffle the fact table against itself."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_ms").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"),
        F.struct(
            F.col("ts_ms").alias("t"),
            F.col("event_id").alias("e"),
            F.col("event_type").alias("ch"),
        ),
    )
    attributed = (
        ev.withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("last_touch").isNotNull()
                & (F.col("ts_ms") - F.col("last_touch.t") <= 7 * _DAY_MS),
                F.col("last_touch.ch"),
            )
            .otherwise(F.lit("none"))
            .alias("channel"),
            "cents",
        )
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("conversions"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


_ATTR_SQL = r"""
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
), tagged AS (
    SELECT *,
           LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                           THEN struct_pack(t := ts_ms, e := event_id,
                                            ch := event_type) END
                      IGNORE NULLS)
           OVER (PARTITION BY user_id
                 ORDER BY ts_ms ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_touch
    FROM ev
), attributed AS (
    SELECT CASE WHEN last_touch IS NOT NULL
                 AND ts_ms - last_touch.t <= 7 * 86400000
                THEN last_touch.ch ELSE 'none' END AS channel,
           cents
    FROM tagged WHERE event_type = 'purchase'
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS conversions,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM attributed GROUP BY channel
"""

QUERIES["events_attribution_last_touch"] = events_attribution_last_touch
ORACLES["events_attribution_last_touch"] = _ATTR_SQL


def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness per 30-day epoch-window: avg daily active
    users vs window actives, as stickiness_bp = Σ|DAU| · 10⁴ div
    (n_days · |WAU₃₀|) — the DAU/MAU product-health ratio, integer-exact
    (·10⁴ fixed-point, no float crosses engines).

    Two partial-agg passes over (window, day, user) distincts — the
    exchange carries distinct keys, never raw events; the final per-
    window rollup is |30-day windows| rows."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_millis(ts) div 86400000").alias("day")
    )
    day_users = ev.select(
        F.expr("day div 30").alias("w"), "day", "user_id"
    ).distinct()
    dau = day_users.groupBy("w", "day").agg(
        F.count(F.lit(1)).alias("dau")
    )
    per_w = dau.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("dau").cast("long").alias("sum_dau"),
    )
    mau = day_users.select("w", "user_id").distinct().groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("mau")
    )
    return per_w.join(mau, "w").select(
        F.col("w").cast("long").alias("window30"),
        "n_days",
        "sum_dau",
        "mau",
        F.expr("(sum_dau * 10000) div (n_days * mau)").alias("stickiness_bp"),
    )


_STICKY_SQL = r"""
WITH du AS (
    SELECT DISTINCT (epoch_ms(ts) // 86400000) // 30 AS w,
           epoch_ms(ts) // 86400000 AS day, user_id
    FROM events
), dau AS (
    SELECT w, day, COUNT(*) AS dau FROM du GROUP BY 1, 2
), per_w AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(dau) AS BIGINT) AS sum_dau
    FROM dau GROUP BY 1
), mau AS (
    SELECT w, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
    FROM du GROUP BY 1
)
SELECT CAST(per_w.w AS BIGINT) AS window30, n_days, sum_dau, mau,
       (sum_dau * 10000) // (n_days * mau) AS stickiness_bp
FROM per_w JOIN mau ON per_w.w = mau.w
"""

QUERIES["events_dau_mau_stickiness"] = events_dau_mau_stickiness
ORACLES["events_dau_mau_stickiness"] = _STICKY_SQL


def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts — the engagement-
    inequality number (how concentrated is activity in power users).
    Lorenz form over counts sorted ASCENDING with the global rank i from
    the DISTRIBUTED prefix-sum machinery (operators/prefix.py — no
    single-partition window even though the rank is global):

        G_bp = 10⁴ · (2·Σ i·xᵢ − (n+1)·S) div (n·S)

    All decimal(38,0) until the final bounded quotient (≤ 10⁴), so the
    arithmetic never wraps at fleet scale.  One row:
    (n_users, total_events, gini_bp)."""
    from ..operators import prefix

    counts = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    ranked, _total = prefix.partitioned_prefix_sum(
        counts, "cnt", [F.col("cnt").asc(), F.col("user_id").asc()]
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("cnt").cast("long").alias("total_events"),
        F.expr(
            "(10000 * (2 * SUM(CAST(__rank AS DECIMAL(38,0))"
            " * CAST(cnt AS DECIMAL(38,0)))"
            " - CAST((COUNT(*) + 1) AS DECIMAL(38,0))"
            " * CAST(SUM(cnt) AS DECIMAL(38,0))))"
            " div (CAST(COUNT(*) AS DECIMAL(38,0))"
            " * CAST(SUM(cnt) AS DECIMAL(38,0)))"
        ).alias("gini_bp"),
    )


_GINI_SQL = r"""
WITH counts AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1
), ranked AS (
    SELECT cnt,
           ROW_NUMBER() OVER (ORDER BY cnt ASC, user_id ASC) AS rk
    FROM counts
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(cnt) AS BIGINT) AS total_events,
       CAST((10000 * (2 * SUM(CAST(rk AS HUGEINT) * CAST(cnt AS HUGEINT))
             - CAST(COUNT(*) + 1 AS HUGEINT) * CAST(SUM(cnt) AS HUGEINT)))
            // (CAST(COUNT(*) AS HUGEINT) * CAST(SUM(cnt) AS HUGEINT))
            AS BIGINT) AS gini_bp
FROM ranked
"""

QUERIES["events_user_gini"] = events_user_gini
ORACLES["events_user_gini"] = _GINI_SQL


def events_cep_strict_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink-CEP ``next()`` semantics (strict contiguity) on the batch
    engine: per user, occurrences of view → click → purchase as three
    CONSECUTIVE events (no intervening event of any type — the
    distinction from pattern_view_then_click's relaxed followed-by) with
    the whole triple inside a 7-day within() bound.  Reference framing: this is the
    pattern class Flink's CEP library (Pattern.begin().next().next())
    and SQL MATCH_RECOGNIZE express; on Spark it is two lead() columns
    over the per-user sequence — one exchange, no joins.

    Report per day: ``(day, matches, users)`` — strict-funnel
    completions and distinct converting users."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_ms").asc(), F.col("event_id").asc()
    )
    seq = ev.select(
        "user_id",
        "event_type",
        "ts_ms",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("ts_ms", 2).over(w).alias("ts2"),
    )
    hits = seq.filter(
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
        & (F.col("ts2") - F.col("ts_ms") <= 7 * _DAY_MS)
    )
    return (
        hits.select(
            F.expr("ts_ms div 86400000").alias("day"), "user_id"
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("matches"),
            F.countDistinct("user_id").cast("long").alias("users"),
        )
    )


_CEP_SQL = r"""
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
    FROM events
), seq AS (
    SELECT user_id, event_type, ts_ms,
           LEAD(event_type, 1) OVER w AS t1,
           LEAD(event_type, 2) OVER w AS t2,
           LEAD(ts_ms, 2) OVER w AS ts2
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC)
)
SELECT ts_ms // 86400000 AS day,
       CAST(COUNT(*) AS BIGINT) AS matches,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
FROM seq
WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
  AND ts2 - ts_ms <= 7 * 86400000::BIGINT
GROUP BY 1
"""

QUERIES["events_cep_strict_sequence"] = events_cep_strict_sequence
ORACLES["events_cep_strict_sequence"] = _CEP_SQL


def events_cep_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink-CEP ``followedBy()`` under SKIP_TILL_NEXT_MATCH: per user,
    view → click → purchase where each step binds the FIRST qualifying
    event after the previous one (intervening events of other types are
    skipped — the relaxed-contiguity complement of
    events_cep_strict_sequence's next(), and a 3-step NFA the 2-step
    as-of join in pattern_view_then_click cannot express).  Reference
    framing: Pattern.begin("v").followedBy("c").followedBy("p")
    .within(Time.days(7)).

    Spark shape: the NFA collapses to two stacked conditional struct-MIN
    windows over the SAME (user, ts, event_id) sort — pass 1 annotates
    every event with its next purchase, pass 2 takes the first following
    click CARRYING that purchase annotation, so the view row reads the
    whole chain.  One exchange, one sort (reused), no joins, no Python.

    Report per day of the view: matches, distinct users, summed
    end-to-end latency (view→purchase, ms)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_ms").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    p1 = ev.withColumn(
        "np",
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.struct(
                    F.col("ts_ms").alias("t"), F.col("event_id").alias("e")
                ),
            )
        ).over(w),
    )
    p2 = p1.withColumn(
        "nc",
        F.min(
            F.when(
                F.col("event_type") == "click",
                F.struct(
                    F.col("ts_ms").alias("t"),
                    F.col("event_id").alias("e"),
                    F.col("np").alias("np"),
                ),
            )
        ).over(w),
    )
    hits = p2.filter(
        (F.col("event_type") == "view")
        & F.col("nc").isNotNull()
        & F.col("nc.np").isNotNull()
        & (F.col("nc.np.t") - F.col("ts_ms") <= 7 * _DAY_MS)
    )
    return (
        hits.select(
            F.expr("ts_ms div 86400000").alias("day"),
            "user_id",
            (F.col("nc.np.t") - F.col("ts_ms")).alias("latency_ms"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("matches"),
            F.countDistinct("user_id").cast("long").alias("users"),
            F.sum("latency_ms").cast("long").alias("sum_latency_ms"),
        )
    )


_CEP_FOLLOWED_BY_SQL = r"""
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events
), p1 AS (
    SELECT *,
           MIN(CASE WHEN event_type = 'purchase'
                    THEN struct_pack(t := ts_ms, e := event_id) END)
               OVER w AS np
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
), p2 AS (
    SELECT *,
           MIN(CASE WHEN event_type = 'click'
                    THEN struct_pack(t := ts_ms, e := event_id, np := np)
               END) OVER w AS nc
    FROM p1
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT ts_ms // 86400000 AS day,
       CAST(COUNT(*) AS BIGINT) AS matches,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(SUM(nc.np.t - ts_ms) AS BIGINT) AS sum_latency_ms
FROM p2
WHERE event_type = 'view' AND nc IS NOT NULL AND nc.np IS NOT NULL
  AND nc.np.t - ts_ms <= 7 * 86400000::BIGINT
GROUP BY 1
"""

QUERIES["events_cep_followed_by"] = events_cep_followed_by
ORACLES["events_cep_followed_by"] = _CEP_FOLLOWED_BY_SQL


def events_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink-CEP quantifier ``oneOrMore().consecutive().greedy()`` as a
    batch run-length report: per user, MAXIMAL runs of consecutive
    same-type events (gaps-and-islands — the island id is the
    row_number-difference trick, identical in both dialects).  Per
    event_type: number of maximal runs, longest run, and runs of
    length >= 3 (the 'greedy triple-or-more' matches Flink would emit
    once per island under SKIP_PAST_LAST_EVENT).  One exchange: both
    row_numbers share the per-user sort, the island agg re-keys once."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
    )
    w_all = Window.partitionBy("user_id").orderBy(
        F.col("ts_ms").asc(), F.col("event_id").asc()
    )
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts_ms").asc(), F.col("event_id").asc()
    )
    islands = ev.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias(
            "island"
        ),
    )
    runs = islands.groupBy("user_id", "event_type", "island").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("max_run"),
            F.sum(F.when(F.col("run_len") >= 3, 1).otherwise(0))
            .cast("long")
            .alias("runs_ge3"),
        )
    )


_RUN_LENGTHS_SQL = r"""
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events
), islands AS (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts_ms ASC, event_id ASC)
           - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts_ms ASC, event_id ASC) AS island
    FROM ev
), runs AS (
    SELECT user_id, event_type, island, COUNT(*) AS run_len
    FROM islands GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(run_len) AS BIGINT) AS max_run,
       CAST(SUM(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS runs_ge3
FROM runs GROUP BY 1
"""

QUERIES["events_run_lengths"] = events_run_lengths
ORACLES["events_run_lengths"] = _RUN_LENGTHS_SQL


def events_watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bound sizing from data: replay the stream in ARRIVAL
    order (event_id is the ingestion sequence) against an ascending
    high-watermark = running max of event time, and measure per
    event_type how many events arrive late — at all (out of order), by
    more than 1 minute, by more than 1 hour — plus the worst lateness.
    This is the audit that picks W1/W2's allowed-lateness knob (§2 W3)
    from evidence instead of folklore: the bound you choose drops
    exactly the rows this report counts.

    The synthetic feed is perfectly in-order (event_id follows ts), so
    arrival is modeled as ts + a DETERMINISTIC 0–2 min per-event network
    delay (md5-derived — the house engine-exact jitter); the audit
    measures the out-of-orderness that model induces.  On real data the
    delay column is the ingestion timestamp and the model term drops
    out — the report shape is the deliverable.

    The high-watermark is a GLOBAL running max — the textbook
    single-partition window — so it runs on the distributed prefix-MAX
    (operators/prefix.py::partitioned_prefix_max): range exchange on
    arrival order, per-partition running max, exclusive per-partition
    maxima folded in as a literal map.  The oracle uses DuckDB's plain
    global window."""
    from ..operators.prefix import partitioned_prefix_max
    from ..operators.sketch import h60

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
    ).withColumn(
        "arrival_ms",
        F.col("ts_ms") + h60(F.col("event_id"), "arrival-v1") % 120_000,
    )
    hwm = partitioned_prefix_max(
        ev, "ts_ms", [F.col("arrival_ms").asc(), F.col("event_id").asc()]
    )
    late = hwm.select(
        "event_type", (F.col("__cummax") - F.col("ts_ms")).alias("late_ms")
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("late_ms") > 0, 1).otherwise(0))
        .cast("long")
        .alias("out_of_order"),
        F.sum(F.when(F.col("late_ms") > 60_000, 1).otherwise(0))
        .cast("long")
        .alias("late_gt_1m"),
        F.sum(F.when(F.col("late_ms") > 3_600_000, 1).otherwise(0))
        .cast("long")
        .alias("late_gt_1h"),
        F.max("late_ms").cast("long").alias("max_late_ms"),
    )


_WM_LATENESS_SQL = r"""
WITH ev AS (
    SELECT event_id, event_type, epoch_ms(ts) AS ts_ms,
           epoch_ms(ts)
           + ('0x' || substr(md5('arrival-v1:' || event_id), 1, 15))::BIGINT
             % 120000 AS arrival_ms
    FROM events
), h AS (
    SELECT event_type,
           MAX(ts_ms) OVER (ORDER BY arrival_ms ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - ts_ms AS late_ms
    FROM ev
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN late_ms > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS out_of_order,
       CAST(SUM(CASE WHEN late_ms > 60000 THEN 1 ELSE 0 END) AS BIGINT)
           AS late_gt_1m,
       CAST(SUM(CASE WHEN late_ms > 3600000 THEN 1 ELSE 0 END) AS BIGINT)
           AS late_gt_1h,
       CAST(MAX(late_ms) AS BIGINT) AS max_late_ms
FROM h GROUP BY 1
"""

QUERIES["events_watermark_lateness_audit"] = events_watermark_lateness_audit
ORACLES["events_watermark_lateness_audit"] = _WM_LATENESS_SQL


def events_cep_not_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink-CEP absence pattern — ``begin("view").notFollowedBy(
    "purchase").within(Time.days(7))``: views with NO purchase by the
    same user in the following 7 days (the abandonment/alerting class:
    "signup not followed by activation", "auth not followed by
    settlement"; in Flink this fires on the within() timeout timer).
    Batch form: the next-purchase conditional struct-MIN window from the
    followedBy machinery, with the match test NEGATED — null or out of
    bound means the absence fired.

    Report per day of the view: views, unconverted views, and the
    abandonment rate in basis points (integer floor-div)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_ms").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    np_ts = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts_ms"))
    ).over(w)
    views = ev.withColumn("np_ts", np_ts).filter(
        F.col("event_type") == "view"
    )
    flagged = views.select(
        F.expr("ts_ms div 86400000").alias("day"),
        (
            F.col("np_ts").isNull()
            | (F.col("np_ts") - F.col("ts_ms") > 7 * _DAY_MS)
        ).alias("absent"),
    )
    return (
        flagged.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_views"),
            F.sum(F.when(F.col("absent"), 1).otherwise(0))
            .cast("long")
            .alias("n_unconverted"),
        )
        .withColumn(
            "abandon_bp",
            F.expr("n_unconverted * 10000 div n_views").cast("long"),
        )
    )


_CEP_NOT_FOLLOWED_SQL = r"""
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events
), seq AS (
    SELECT user_id, event_type, ts_ms,
           MIN(CASE WHEN event_type = 'purchase' THEN ts_ms END)
               OVER (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np_ts
    FROM ev
), flagged AS (
    SELECT ts_ms // 86400000 AS day,
           (np_ts IS NULL OR np_ts - ts_ms > 7 * 86400000::BIGINT) AS absent
    FROM seq WHERE event_type = 'view'
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(SUM(CASE WHEN absent THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unconverted,
       CAST(SUM(CASE WHEN absent THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS abandon_bp
FROM flagged GROUP BY 1
"""

QUERIES["events_cep_not_followed_by"] = events_cep_not_followed_by
ORACLES["events_cep_not_followed_by"] = _CEP_NOT_FOLLOWED_SQL


def events_user_entropy_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity segmentation: each user's event-type mix is
    scored by its QUANTIZED Shannon code length — per type,
    floor(log2(n_user div n_user_type)) bits (the bin()-length integer
    log2 of the house surprisal idiom, lm_score.py — no float logs, so
    the entropy replays bit-for-bit cross-engine), summed over the
    user's events and normalized to millibits/event; users land in
    half-bit segments.  The "is this account a bot" screen: single-type
    users score 0 bits, uniform 5-type users ≈ log2 5.

    Report per segment: users, events, and the millibit range.  Two
    keyed aggregations + one map-side arithmetic pass — no windows, no
    collects."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_ut")
    )
    per_user = (
        per_type.groupBy("user_id")
        .agg(
            F.sum("n_ut").alias("n_u"),
            F.collect_list(F.struct("event_type", "n_ut")).alias("mix"),
        )
    )
    scored = per_user.select(
        "user_id",
        "n_u",
        F.expr(
            "aggregate(mix, CAST(0 AS BIGINT),"
            " (acc, m) -> acc + m.n_ut *"
            " (length(bin(n_u div m.n_ut)) - 1))"
        ).alias("bits_total"),
    ).select(
        "user_id",
        "n_u",
        F.expr("bits_total * 1000 div n_u").alias("mb_per_event"),
    )
    return (
        scored.withColumn("segment", F.expr("mb_per_event div 500"))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_u").cast("long").alias("n_events"),
            F.min("mb_per_event").cast("long").alias("mb_min"),
            F.max("mb_per_event").cast("long").alias("mb_max"),
        )
        .withColumn("segment", F.col("segment").cast("long"))
    )


_ENTROPY_SEG_SQL = r"""
WITH per_type AS (
    SELECT user_id, event_type, COUNT(*) AS n_ut
    FROM events GROUP BY 1, 2
), per_user AS (
    SELECT user_id, SUM(n_ut) AS n_u FROM per_type GROUP BY 1
), scored AS (
    SELECT t.user_id, u.n_u,
           SUM(t.n_ut * (length(bin(u.n_u // t.n_ut)) - 1)) AS bits_total
    FROM per_type t JOIN per_user u ON t.user_id = u.user_id
    GROUP BY 1, 2
), mb AS (
    SELECT user_id, n_u, bits_total * 1000 // n_u AS mb_per_event FROM scored
)
SELECT CAST(mb_per_event // 500 AS BIGINT) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n_u) AS BIGINT) AS n_events,
       CAST(MIN(mb_per_event) AS BIGINT) AS mb_min,
       CAST(MAX(mb_per_event) AS BIGINT) AS mb_max
FROM mb GROUP BY 1
"""

QUERIES["events_user_entropy_segments"] = events_user_entropy_segments
ORACLES["events_user_entropy_segments"] = _ENTROPY_SEG_SQL


def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning number
    ("how many users were on AT ONCE"), which no per-key aggregate can
    produce: sessionize (30-min gap islands, the session_window logic),
    explode each session into a +1 at its start and a −1 at its end,
    and run the interval sweep — a GLOBAL running sum over (ts, +1
    before −1) — through the distributed prefix sum
    (operators/prefix.py), never a single-partition window.  Ties at
    the same millisecond process starts first (delta desc), so a
    session ending exactly when another starts counts both (closed
    intervals, mirrored in the oracle's ORDER BY).

    Report per day: peak concurrency and sessions started."""
    from ..operators.prefix import partitioned_prefix_sum

    gap = 1_800_000
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("ts_ms")
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms")
    sess = (
        ev.withColumn(
            "new_s",
            F.when(
                F.col("ts_ms") - F.lag("ts_ms").over(w) > gap, 1
            ).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts_ms").alias("s_ms"), F.max("ts_ms").alias("e_ms"))
    )
    deltas = sess.select(
        F.col("s_ms").alias("ts_ms"),
        F.lit(1).cast("long").alias("delta"),
        "user_id",
        "sid",
    ).unionByName(
        sess.select(
            F.col("e_ms").alias("ts_ms"),
            F.lit(-1).cast("long").alias("delta"),
            "user_id",
            "sid",
        )
    )
    swept, _ = partitioned_prefix_sum(
        deltas,
        "delta",
        [
            F.col("ts_ms").asc(),
            F.col("delta").desc(),
            F.col("user_id").asc(),
            F.col("sid").asc(),
        ],
    )
    return (
        swept.select(
            F.expr("ts_ms div 86400000").alias("day"), "__cum", "delta"
        )
        .groupBy("day")
        .agg(
            F.max("__cum").cast("long").alias("peak_concurrency"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("long")
            .alias("sessions_started"),
        )
    )


_PEAK_CONCURRENCY_SQL = r"""
WITH ev AS (
    SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
), flagged AS (
    SELECT user_id, ts_ms,
           CASE WHEN ts_ms - LAG(ts_ms) OVER (PARTITION BY user_id
                                              ORDER BY ts_ms) > 1800000
                THEN 1 ELSE 0 END AS new_s
    FROM ev
), sids AS (
    SELECT user_id, ts_ms,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
), sess AS (
    SELECT user_id, sid, MIN(ts_ms) AS s_ms, MAX(ts_ms) AS e_ms
    FROM sids GROUP BY 1, 2
), deltas AS (
    SELECT s_ms AS ts_ms, 1::BIGINT AS delta, user_id, sid FROM sess
    UNION ALL
    SELECT e_ms AS ts_ms, -1::BIGINT AS delta, user_id, sid FROM sess
), swept AS (
    SELECT ts_ms, delta,
           SUM(delta) OVER (ORDER BY ts_ms ASC, delta DESC,
                            user_id ASC, sid ASC
                            ROWS UNBOUNDED PRECEDING) AS cum
    FROM deltas
)
SELECT ts_ms // 86400000 AS day,
       CAST(MAX(cum) AS BIGINT) AS peak_concurrency,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS sessions_started
FROM swept GROUP BY 1
"""

QUERIES["events_peak_concurrency"] = events_peak_concurrency
ORACLES["events_peak_concurrency"] = _PEAK_CONCURRENCY_SQL


def events_seasonality_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality screen on the daily event series: signed squared
    correlation (r²·sign, in milli-units) between the series and itself
    at lag 1 (momentum) and lag 7 (weekly cycle), per event_type —
    the check that justifies weekly Holt-Winters seasonality before
    fitting it.  Pairs come from a gap-safe self-join on day+lag (a lag
    window would silently pair across missing days); the statistic is
    the integer cross-product form
        sign(c)·c²·1000 div (dx·dy),  c = nΣxy − ΣxΣy
    with decimal(38,0) on the factors (c² reaches ~10²⁶ at fleet scale;
    the quotient is ≤ 1000 so `div`'s BIGINT result cannot wrap) — no
    float sqrt, so no cross-engine correlation seam."""
    ev = _t(spark, sf_dir, "events").select(
        F.expr("unix_millis(ts) div 86400000").alias("day"), "event_type"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    outs = []
    for lag in (1, 7):
        a, b = daily.alias("a"), daily.alias("b")
        pairs = a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.day") == F.col("a.day") + lag),
        ).select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.cnt").alias("x"),
            F.col("b.cnt").alias("y"),
        )
        agg = pairs.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("CAST(x AS BIGINT) * y")).alias("sxy"),
            F.sum(F.expr("CAST(x AS BIGINT) * x")).alias("sxx"),
            F.sum(F.expr("CAST(y AS BIGINT) * y")).alias("syy"),
        )
        d = "CAST({} AS DECIMAL(38,0))"
        c = (
            f"({d.format('n_pairs')} * {d.format('sxy')}"
            f" - {d.format('sx')} * {d.format('sy')})"
        )
        dx = (
            f"({d.format('n_pairs')} * {d.format('sxx')}"
            f" - {d.format('sx')} * {d.format('sx')})"
        )
        dy = (
            f"({d.format('n_pairs')} * {d.format('syy')}"
            f" - {d.format('sy')} * {d.format('sy')})"
        )
        outs.append(
            agg.select(
                "event_type",
                F.lit(lag).cast("long").alias("lag_days"),
                "n_pairs",
                F.expr(
                    f"CASE WHEN {dx} > 0 AND {dy} > 0 THEN"
                    f" CASE WHEN {c} < 0 THEN -1 ELSE 1 END"
                    f" * ({c} * {c} * CAST(1000 AS DECIMAL(38,0)))"
                    f" div ({dx} * {dy}) END"
                )
                .cast("long")
                .alias("signed_r2_milli"),
            )
        )
    return outs[0].unionByName(outs[1])


_ACF_SQL = r"""
WITH daily AS (
    SELECT event_type, epoch_ms(ts) // 86400000 AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
), pairs AS (
    SELECT a.event_type, l.lag_days, a.cnt AS x, b.cnt AS y
    FROM daily a
    JOIN (VALUES (1), (7)) l(lag_days) ON TRUE
    JOIN daily b ON b.event_type = a.event_type
               AND b.day = a.day + l.lag_days
), agg AS (
    SELECT event_type, lag_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM pairs GROUP BY 1, 2
)
SELECT event_type, CAST(lag_days AS BIGINT) AS lag_days, n_pairs,
       CAST(CASE WHEN n_pairs::HUGEINT * sxx - sx::HUGEINT * sx > 0
                  AND n_pairs::HUGEINT * syy - sy::HUGEINT * sy > 0 THEN
            (CASE WHEN n_pairs::HUGEINT * sxy - sx::HUGEINT * sy < 0
                  THEN -1 ELSE 1 END)
            * ((n_pairs::HUGEINT * sxy - sx::HUGEINT * sy)
               * (n_pairs::HUGEINT * sxy - sx::HUGEINT * sy) * 1000)
            // ((n_pairs::HUGEINT * sxx - sx::HUGEINT * sx)
                * (n_pairs::HUGEINT * syy - sy::HUGEINT * sy)) END
            AS BIGINT) AS signed_r2_milli
FROM agg
"""

QUERIES["events_seasonality_acf"] = events_seasonality_acf
ORACLES["events_seasonality_acf"] = _ACF_SQL


def events_churn_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn / retention / resurrection between consecutive 30-day
    epoch-windows, the product-analytics standard: each user is
    classified per window-boundary as retained (active in both),
    churned (active in W, silent in W+1), new (first seen in W+1) or
    resurrected (seen before W, silent in W, back in W+1).  Windows are
    epoch-ms div 30 days (tz-invariant, like events_dau_mau_stickiness);
    classification needs only each user's DISTINCT active-window set and
    its running MIN — one per-(user, window) dedup, one partitioned
    window pass, no self-joins.

    Report per boundary (w → w+1): retained, churned, new_users,
    resurrected, churn_bp = churned·10⁴ div active(W)."""
    win = 30 * 86_400_000
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr(f"unix_millis(ts) div {win}").alias("w")
    )
    uw = ev.groupBy("user_id", "w").agg(F.count(F.lit(1)).alias("_n")).drop("_n")
    wspec = Window.partitionBy("user_id").orderBy("w")
    lab = uw.select(
        "user_id",
        "w",
        F.lag("w").over(wspec).alias("prev_w"),
        F.min("w").over(
            Window.partitionBy("user_id")
        ).alias("first_w"),
        F.lead("w").over(wspec).alias("next_w"),
    )
    # per boundary w -> w+1, counted from the side that observes it:
    per_boundary = lab.select(
        "user_id",
        "w",
        F.when(F.col("next_w") == F.col("w") + 1, 1).otherwise(0).alias("retained"),
        F.when(
            F.col("next_w").isNull() | (F.col("next_w") > F.col("w") + 1), 1
        ).otherwise(0).alias("churned"),
        F.when(F.col("first_w") == F.col("w"), 1).otherwise(0).alias("is_new"),
        F.when(
            F.col("prev_w").isNotNull() & (F.col("prev_w") < F.col("w") - 1), 1
        ).otherwise(0).alias("resurrected"),
    )
    return (
        per_boundary.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("active_users"),
            F.sum("retained").cast("long").alias("retained"),
            F.sum("churned").cast("long").alias("churned"),
            F.sum("is_new").cast("long").alias("new_users"),
            F.sum("resurrected").cast("long").alias("resurrected"),
        )
        .withColumn(
            "churn_bp",
            F.expr("churned * 10000 div active_users").cast("long"),
        )
    )


_CHURN_SQL = r"""
WITH uw AS (
    SELECT DISTINCT user_id, epoch_ms(ts) // 2592000000 AS w FROM events
), lab AS (
    SELECT user_id, w,
           LAG(w) OVER (PARTITION BY user_id ORDER BY w) AS prev_w,
           LEAD(w) OVER (PARTITION BY user_id ORDER BY w) AS next_w,
           MIN(w) OVER (PARTITION BY user_id) AS first_w
    FROM uw
)
SELECT w,
       CAST(COUNT(*) AS BIGINT) AS active_users,
       CAST(SUM(CASE WHEN next_w = w + 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS retained,
       CAST(SUM(CASE WHEN next_w IS NULL OR next_w > w + 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS churned,
       CAST(SUM(CASE WHEN first_w = w THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users,
       CAST(SUM(CASE WHEN prev_w IS NOT NULL AND prev_w < w - 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
       CAST(SUM(CASE WHEN next_w IS NULL OR next_w > w + 1 THEN 1 ELSE 0 END)
            * 10000 // COUNT(*) AS BIGINT) AS churn_bp
FROM lab GROUP BY 1
"""

QUERIES["events_churn_cohorts"] = events_churn_cohorts
ORACLES["events_churn_cohorts"] = _CHURN_SQL


def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for the A/B harness — the #1
    experiment-validity gate (an SRM means broken assignment or
    differential logging, and any treatment read-out is void): per day,
    the distinct users active in each variant of the 50/50 md5 hash
    split (the same `ab` salt as events_ab_test_report), the equal-split
    chi-square statistic in milli-units — for a 2-cell equal split it
    reduces exactly to (n_A − n_B)²·1000 div n, integer — and the flag
    at the 95% bound (χ²₁ > 3.841).  Under a healthy split every day's
    flag is 0; the day dimension localizes WHEN an assignment broke.

    One distinct (day, user) dedup + one keyed agg — no windows."""
    from ..operators.sampling import hash_bucket

    ev = _t(spark, sf_dir, "events").select(
        F.expr("unix_millis(ts) div 86400000").alias("day"), "user_id"
    )
    du = ev.groupBy("day", "user_id").agg(F.count(F.lit(1)).alias("_n")).drop("_n")
    tagged = du.withColumn(
        "is_a", (hash_bucket(F.col("user_id"), "ab") < 5000).cast("int")
    )
    return (
        tagged.groupBy("day")
        .agg(
            F.sum("is_a").cast("long").alias("n_a"),
            F.sum(F.lit(1) - F.col("is_a")).cast("long").alias("n_b"),
        )
        .withColumn(
            "chi2_milli",
            F.expr("(n_a - n_b) * (n_a - n_b) * 1000 div (n_a + n_b)")
            .cast("long"),
        )
        .withColumn(
            "srm_flag",
            (F.col("chi2_milli") > 3841).cast("long"),
        )
    )


_SRM_SQL = r"""
WITH du AS (
    SELECT DISTINCT epoch_ms(ts) // 86400000 AS day, user_id FROM events
), tagged AS (
    SELECT day,
           CASE WHEN ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT
                     % 10000 < 5000 THEN 1 ELSE 0 END AS is_a
    FROM du
), a AS (
    SELECT day,
           CAST(SUM(is_a) AS BIGINT) AS n_a,
           CAST(SUM(1 - is_a) AS BIGINT) AS n_b
    FROM tagged GROUP BY 1
)
SELECT day, n_a, n_b,
       CAST((n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) AS BIGINT)
           AS chi2_milli,
       CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) > 3841
                 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
FROM a
"""

QUERIES["events_ab_srm_check"] = events_ab_srm_check
ORACLES["events_ab_srm_check"] = _SRM_SQL


def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO accounting: the changelog's last 7 epoch-days arrive
    as a batch against the base snapshot built from everything earlier
    (both sides the cdc_apply_latest semantics — latest change per user,
    'error' is the tombstone).  Applying the batch's NET per-user op to
    the base yields the row-level attribution a warehouse MERGE reports:
    inserted (net upsert, key absent from base), updated (key present),
    deleted (net tombstone on a present key), plus untouched carry-over
    and the final state's row count and integer-cents checksum — the
    numbers an ingestion job asserts before committing a merge.

    The batch cut is max(day) − 6, folded in as a literal (1-row
    metadata collect); the oracle computes the same cut inline.  One
    hash exchange per side on the key, one full-outer merge join."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("event_type").alias("op"),
        F.unix_millis("ts").alias("ts_ms"),
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    cut = int(
        ev.agg(F.max("day").alias("m")).collect()[0]["m"]
    ) - 6

    def net_state(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts_ms").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "op", "cents")
        )

    base = net_state(ev.filter(F.col("day") < cut)).withColumnRenamed(
        "op", "b_op"
    ).withColumnRenamed("cents", "b_cents")
    batch = net_state(ev.filter(F.col("day") >= cut)).withColumnRenamed(
        "op", "n_op"
    ).withColumnRenamed("cents", "n_cents")
    m = base.join(batch, "user_id", "full_outer").select(
        (F.col("b_op").isNotNull() & (F.col("b_op") != "error")).alias(
            "in_base"
        ),
        F.col("n_op").isNotNull().alias("in_batch"),
        (F.col("n_op") == "error").alias("batch_del"),
        "b_cents",
        "n_cents",
    )
    return m.agg(
        F.sum(F.when(F.col("in_base"), 1).otherwise(0))
        .cast("long")
        .alias("base_rows"),
        F.sum(
            F.when(F.col("in_batch") & ~F.col("batch_del") & ~F.col("in_base"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("inserted"),
        F.sum(
            F.when(F.col("in_batch") & ~F.col("batch_del") & F.col("in_base"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("updated"),
        F.sum(
            F.when(F.col("batch_del") & F.col("in_base"), 1).otherwise(0)
        )
        .cast("long")
        .alias("deleted"),
        F.sum(
            F.when(F.col("in_base") & ~F.col("in_batch"), 1).otherwise(0)
        )
        .cast("long")
        .alias("untouched"),
        F.sum(
            F.when(
                F.col("in_batch") & ~F.col("batch_del"), 1
            ).when(F.col("in_base") & ~F.col("in_batch"), 1).otherwise(0)
        )
        .cast("long")
        .alias("final_rows"),
        F.sum(
            F.when(F.col("in_batch") & ~F.col("batch_del"), F.col("n_cents"))
            .when(F.col("in_base") & ~F.col("in_batch"), F.col("b_cents"))
            .otherwise(0)
        )
        .cast("long")
        .alias("final_cents_sum"),
    )


_MERGE_APPLY_SQL = r"""
WITH e AS (
    SELECT user_id, event_id, event_type AS op, epoch_ms(ts) AS ts_ms,
           epoch_ms(ts) // 86400000 AS day,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
), cut AS (SELECT MAX(day) - 6 AS c FROM e),
base AS (
    SELECT user_id, op AS b_op, cents AS b_cents FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts_ms DESC, event_id DESC) AS rn
        FROM e WHERE day < (SELECT c FROM cut)
    ) WHERE rn = 1
), batch AS (
    SELECT user_id, op AS n_op, cents AS n_cents FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts_ms DESC, event_id DESC) AS rn
        FROM e WHERE day >= (SELECT c FROM cut)
    ) WHERE rn = 1
), m AS (
    SELECT (b_op IS NOT NULL AND b_op <> 'error') AS in_base,
           n_op IS NOT NULL AS in_batch,
           n_op = 'error' AS batch_del,
           b_cents, n_cents
    FROM base FULL OUTER JOIN batch USING (user_id)
)
SELECT
  CAST(SUM(CASE WHEN in_base THEN 1 ELSE 0 END) AS BIGINT) AS base_rows,
  CAST(SUM(CASE WHEN in_batch AND NOT COALESCE(batch_del, FALSE)
                 AND NOT in_base THEN 1 ELSE 0 END) AS BIGINT) AS inserted,
  CAST(SUM(CASE WHEN in_batch AND NOT COALESCE(batch_del, FALSE)
                 AND in_base THEN 1 ELSE 0 END) AS BIGINT) AS updated,
  CAST(SUM(CASE WHEN COALESCE(batch_del, FALSE) AND in_base
                THEN 1 ELSE 0 END) AS BIGINT) AS deleted,
  CAST(SUM(CASE WHEN in_base AND NOT in_batch THEN 1 ELSE 0 END) AS BIGINT)
      AS untouched,
  CAST(SUM(CASE WHEN in_batch AND NOT COALESCE(batch_del, FALSE) THEN 1
                WHEN in_base AND NOT in_batch THEN 1 ELSE 0 END) AS BIGINT)
      AS final_rows,
  CAST(SUM(CASE WHEN in_batch AND NOT COALESCE(batch_del, FALSE) THEN n_cents
                WHEN in_base AND NOT in_batch THEN b_cents ELSE 0 END)
       AS BIGINT) AS final_cents_sum
FROM m
"""

QUERIES["cdc_merge_apply"] = cdc_merge_apply
ORACLES["cdc_merge_apply"] = _MERGE_APPLY_SQL


# ---------------------------------------------------------------------------
# Wilson lower-bound CTR ranking.
# ---------------------------------------------------------------------------

_WILSON_MIN_TRIALS = 10
_WILSON_TOPK = 20


def events_wilson_ctr_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking under uncertainty: items ordered by the 95% Wilson score
    LOWER bound of their click proportion (clicks out of clicks+views),
    not the raw rate — the standard fix for 'an item with 2/2 clicks
    outranks one with 180/200' (Wilson 1927; the canonical sort-by-rating
    formula).  Raw-rate ctr_bp is emitted alongside to show the reorder.

    Float discipline: p and the bound use EXPLICIT double literals
    (3.8416D) in identical operand order in both dialects — a bare
    3.8416 literal parses as DECIMAL in Spark and its division rounds
    differently than IEEE; ranking happens on the ROUNDED bound with
    item as tie-break (the tfidf convention)."""
    ev = _t(spark, sf_dir, "events").select(
        F.expr("try_cast(get_json_object(props, '$.k') AS LONG)").alias(
            "item"
        ),
        "event_type",
    ).filter(F.col("item").isNotNull())
    counts = ev.filter(F.col("event_type").isin("click", "view")).groupBy(
        "item"
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("clicks"),
        F.count(F.lit(1)).cast("long").alias("trials"),
    ).filter(F.col("trials") >= _WILSON_MIN_TRIALS)
    scored = counts.select(
        "item",
        "clicks",
        "trials",
        F.expr("clicks * 10000 div trials").cast("long").alias("ctr_bp"),
        F.expr(
            "round(((CAST(clicks AS DOUBLE) / trials) + 3.8416D/(2*trials)"
            " - 1.96D * sqrt(((CAST(clicks AS DOUBLE) / trials)"
            "*(1.0D - (CAST(clicks AS DOUBLE) / trials))"
            " + 3.8416D/(4*trials))/trials))"
            " / (1.0D + 3.8416D/trials), 4)"
        ).alias("wilson_lb"),
    )
    # bounded input: |items| rows (the item catalog), never the event
    # stream — TakeOrderedAndProject over an aggregate, not a global sort
    return (
        scored.orderBy(F.col("wilson_lb").desc(), F.col("item").asc())
        .limit(_WILSON_TOPK)
        .select("item", "clicks", "trials", "ctr_bp", "wilson_lb")
    )


_WILSON_SQL = rf"""
WITH ev AS (
    SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
           event_type
    FROM events
    WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
),
counts AS (
    SELECT item,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS clicks,
           CAST(COUNT(*) AS BIGINT) AS trials
    FROM ev WHERE event_type IN ('click', 'view')
    GROUP BY 1
    HAVING COUNT(*) >= {_WILSON_MIN_TRIALS}
),
scored AS (
    SELECT item, clicks, trials,
           CAST(clicks * 10000 // trials AS BIGINT) AS ctr_bp,
           ROUND(((CAST(clicks AS DOUBLE) / trials)
                  + 3.8416::DOUBLE/(2*trials)
                  - 1.96::DOUBLE * SQRT(((CAST(clicks AS DOUBLE) / trials)
                    *(1.0::DOUBLE - (CAST(clicks AS DOUBLE) / trials))
                    + 3.8416::DOUBLE/(4*trials))/trials))
                 / (1.0::DOUBLE + 3.8416::DOUBLE/trials), 4) AS wilson_lb
    FROM counts
)
SELECT item, clicks, trials, ctr_bp, wilson_lb
FROM scored
ORDER BY wilson_lb DESC, item ASC
LIMIT {_WILSON_TOPK}
"""

QUERIES["events_wilson_ctr_rank"] = events_wilson_ctr_rank
ORACLES["events_wilson_ctr_rank"] = _WILSON_SQL


def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — the position-agnostic counterpart
    of events_attribution_last_touch: every purchase splits one unit of
    conversion credit (and its revenue cents) EQUALLY across all
    view/click touches by the same user in the strict 7-day lookback
    window.  Exact integer accounting: credit in ppm with the floor
    remainder deterministically assigned to the click channel, revenue
    in cents likewise — per-purchase credits sum to exactly 1e6 ppm and
    exactly `cents`, so the fleet's integer-conservation discipline
    holds (no float credit drift).  Touchless purchases credit 'none'.

    Shape: the touch counts come from RANGE-frame windows over the SAME
    user_id exchange and ts ordering (value-range frames are tie-safe —
    no event_id tiebreak needed, same-ms rows land in or out of the
    frame together); the naive form is a purchases x touches time-range
    self-join that shuffles the fact table against itself."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_ms").asc())
        .rangeBetween(-7 * _DAY_MS, -1)
    )
    p = (
        ev.withColumn(
            "nv",
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).over(
                wr
            ),
        )
        .withColumn(
            "nc",
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).over(wr),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "cents",
            # empty RANGE frame -> NULL sum in Spark (DuckDB likewise):
            # coalesce so touchless purchases take the n = 0 branch
            F.coalesce(F.col("nv"), F.lit(0)).cast("long").alias("nv"),
            F.coalesce(F.col("nc"), F.lit(0)).cast("long").alias("nc"),
            (
                F.coalesce(F.col("nv"), F.lit(0))
                + F.coalesce(F.col("nc"), F.lit(0))
            )
            .cast("long")
            .alias("n"),
        )
        .select(
            "cents",
            "n",
            F.expr("IF(n = 0, CAST(0 AS BIGINT), nv * 1000000 div n)").alias(
                "view_ppm"
            ),
            F.expr(
                "IF(n = 0, CAST(0 AS BIGINT), cents * nv div n)"
            ).alias("view_cents"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("view").alias("channel"),
                        F.col("view_ppm").alias("ppm"),
                        F.col("view_cents").alias("cr"),
                    ),
                    F.struct(
                        F.lit("click").alias("channel"),
                        F.expr(
                            "IF(n = 0, CAST(0 AS BIGINT),"
                            " 1000000 - view_ppm)"
                        ).alias("ppm"),
                        F.expr(
                            "IF(n = 0, CAST(0 AS BIGINT),"
                            " cents - view_cents)"
                        ).alias("cr"),
                    ),
                    F.struct(
                        F.lit("none").alias("channel"),
                        F.expr(
                            "IF(n = 0, CAST(1000000 AS BIGINT),"
                            " CAST(0 AS BIGINT))"
                        ).alias("ppm"),
                        F.expr(
                            "IF(n = 0, cents, CAST(0 AS BIGINT))"
                        ).alias("cr"),
                    ),
                )
            ).alias("x")
        )
    )
    return p.groupBy(F.col("x.channel").alias("channel")).agg(
        F.sum("x.ppm").cast("long").alias("credit_ppm"),
        F.sum("x.cr").cast("long").alias("revenue_cents"),
    )


_ATTR_LINEAR_SQL = r"""
WITH ev AS (
    SELECT user_id, event_type, epoch_ms(ts) AS ts_ms,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
), counted AS (
    SELECT *,
           SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts_ms
                   RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING) AS nv,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts_ms
                   RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING) AS nc
    FROM ev
), p AS (
    SELECT cents,
           COALESCE(nv, 0) + COALESCE(nc, 0) AS n,
           COALESCE(nv, 0) AS nv
    FROM counted WHERE event_type = 'purchase'
), split AS (
    SELECT cents, n, nv,
           CASE WHEN n = 0 THEN 0 ELSE nv * 1000000 // n END AS view_ppm,
           CASE WHEN n = 0 THEN 0 ELSE cents * nv // n END AS view_cents
    FROM p
), long AS (
    SELECT 'view' AS channel, view_ppm AS ppm, view_cents AS cr FROM split
    UNION ALL
    SELECT 'click',
           CASE WHEN n = 0 THEN 0 ELSE 1000000 - view_ppm END,
           CASE WHEN n = 0 THEN 0 ELSE cents - view_cents END
    FROM split
    UNION ALL
    SELECT 'none',
           CASE WHEN n = 0 THEN 1000000 ELSE 0 END,
           CASE WHEN n = 0 THEN cents ELSE 0 END
    FROM split
)
SELECT channel,
       CAST(SUM(ppm) AS BIGINT) AS credit_ppm,
       CAST(SUM(cr) AS BIGINT) AS revenue_cents
FROM long GROUP BY 1
"""

QUERIES["events_attribution_linear"] = events_attribution_linear
ORACLES["events_attribution_linear"] = _ATTR_LINEAR_SQL


def events_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of user lifetime (survival analysis —
    the right-censoring-aware retention estimate marketing 'retention
    curves' silently get wrong): a user 'dies' in their last active
    epoch-HOUR (day granularity leaves a 2-step staircase on this feed —
    nearly every user is active through the final days); users last seen
    in the corpus's final hour are CENSORED
    (still alive), so they stay in the at-risk denominator without ever
    counting as a death.  S(t) = prod_{t' <= t} (1 - d_t'/n_t').

    Engine-exact float discipline: each factor's log is
    ln(CAST(n-d AS DOUBLE)/n) — a per-row scalar on exact integers —
    and the cumulative sum runs in an ORDERED window frame, so both
    engines add the same IEEE terms in the same order; the exp() result
    is ROUND()ed (the tfidf convention).  Plan: two integer groupBys
    (per-user last day; per-day death counts), then all remaining work
    on the <= |days| row staircase (the sanctioned bounded-aggregate
    global window, corpus_mix_report family)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_millis(ts) div 3600000").alias("hour")
    )
    last_day = ev.groupBy("user_id").agg(F.max("hour").alias("death_day"))
    max_day = last_day.agg(F.max("death_day")).collect()[0][0]  # 1-int scalar
    n_users = last_day.count()  # 1-int scalar
    deaths = (
        last_day.filter(F.col("death_day") < max_day)
        .groupBy("death_day")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # at-risk at t = users whose death_day >= t  =  n_users - (# < t):
    # cumulative count of PRIOR death days over the bounded staircase
    w_prior = Window.orderBy(F.col("death_day").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy(F.col("death_day").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    staircase = (
        deaths.withColumn(
            "n_at_risk",
            (
                F.lit(n_users)
                - F.coalesce(F.sum("d").over(w_prior), F.lit(0))
            ).cast("long"),
        )
        .withColumn(
            "lnf",
            F.expr("ln(CAST(n_at_risk - d AS DOUBLE) / n_at_risk)"),
        )
        .withColumn(
            "survival", F.round(F.exp(F.sum("lnf").over(w_cum)), 4)
        )
    )
    return staircase.select(
        F.col("death_day").alias("hour"),
        F.col("n_at_risk"),
        F.col("d").alias("deaths"),
        "survival",
    )


_KM_SQL = r"""
WITH ev AS (
    SELECT user_id, epoch_ms(ts) // 3600000 AS hour FROM events
),
last_day AS (
    SELECT user_id, MAX(hour) AS death_day FROM ev GROUP BY 1
),
mx AS (SELECT MAX(death_day) AS max_day, COUNT(*) AS n_users FROM last_day),
deaths AS (
    SELECT death_day, CAST(COUNT(*) AS BIGINT) AS d
    FROM last_day WHERE death_day < (SELECT max_day FROM mx)
    GROUP BY 1
),
stair AS (
    SELECT death_day, d,
           CAST((SELECT n_users FROM mx)
                - COALESCE(SUM(d) OVER (ORDER BY death_day ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_at_risk
    FROM deaths
),
lf AS (
    SELECT *, ln(CAST(n_at_risk - d AS DOUBLE) / n_at_risk) AS lnf
    FROM stair
)
SELECT death_day AS hour, n_at_risk, d AS deaths,
       ROUND(exp(SUM(lnf) OVER (ORDER BY death_day ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4)
           AS survival
FROM lf
"""

QUERIES["events_kaplan_meier_retention"] = events_kaplan_meier_retention
ORACLES["events_kaplan_meier_retention"] = _KM_SQL


def events_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime-value curve by weekly acquisition cohort: users
    cohort on their FIRST active epoch-week; every purchase lands at
    age = weeks since cohort week; the curve is the running sum of
    cohort revenue by age with an exact per-user LTV in milli-cents
    (cum_cents * 1000 div cohort_users) — the growth-accounting table a
    payback-period decision reads off.  Pure integer end to end (cents
    per row, cumulative window sums), so the curve is engine-exact.

    Shape: per-user first-day groupBy, one user_id join to attach the
    cohort to purchases, one (cohort, age) groupBy, and a cohort-
    partitioned cumulative window — every exchange keyed and partial-
    aggregated; nothing global."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_millis(ts) div 86400000").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    first = ev.groupBy("user_id").agg(
        F.expr("min(day) div 7").cast("long").alias("cohort_week")
    )
    cohort_sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    aged = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .select(
            "cohort_week",
            (F.expr("day div 7") - F.col("cohort_week"))
            .cast("long")
            .alias("age_week"),
            "cents",
        )
        .groupBy("cohort_week", "age_week")
        .agg(F.sum("cents").cast("long").alias("revenue_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy(F.col("age_week").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        aged.withColumn(
            "cum_revenue_cents", F.sum("revenue_cents").over(w).cast("long")
        )
        .join(cohort_sizes, "cohort_week")
        .select(
            "cohort_week",
            "age_week",
            "revenue_cents",
            "cum_revenue_cents",
            "cohort_users",
            F.expr("cum_revenue_cents * 1000 div cohort_users")
            .cast("long")
            .alias("ltv_milli_cents"),
        )
    )


_LTV_SQL = r"""
WITH ev AS (
    SELECT user_id, event_type, epoch_ms(ts) // 86400000 AS day,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
),
first AS (
    SELECT user_id, CAST(MIN(day) // 7 AS BIGINT) AS cohort_week
    FROM ev GROUP BY 1
),
sizes AS (
    SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
    FROM first GROUP BY 1
),
aged AS (
    SELECT cohort_week,
           CAST(day // 7 - cohort_week AS BIGINT) AS age_week,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM ev JOIN first USING (user_id)
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
),
cum AS (
    SELECT *,
           CAST(SUM(revenue_cents) OVER (PARTITION BY cohort_week
                ORDER BY age_week ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_revenue_cents
    FROM aged
)
SELECT cohort_week, age_week, revenue_cents, cum_revenue_cents,
       cohort_users,
       CAST(cum_revenue_cents * 1000 // cohort_users AS BIGINT)
           AS ltv_milli_cents
FROM cum JOIN sizes USING (cohort_week)
"""

QUERIES["events_cohort_ltv_curve"] = events_cohort_ltv_curve
ORACLES["events_cohort_ltv_curve"] = _LTV_SQL


def events_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test on purchase-value DISTRIBUTIONS
    between the A/B hash arms — the distribution-level complement of
    events_ab_test_report (a z-test sees only the conversion RATE; KS
    catches a variant that shifts the spend distribution at equal rate).
    Exact integer arithmetic end to end: values quantize to cents per
    row, the two empirical CDFs come from ONE distributed prefix-sum
    pass over the merged support (operators/prefix.py — cents domain-
    bounded, the range exchange never single-partitions), and the KS
    statistic is the cross-multiplied max |cum_a*N_b - cum_b*N_a| with
    d_bp = D_num*1e4 div (N_a*N_b).  The 95% decision replays
    D² > 1.358²(n+m)/(nm) as pure int64 cross-multiplication.  Under
    the null (hash split) `significant` SHOULD be 0 — like the SRM
    gate, a hit means a broken pipeline, not a treatment effect.

    One row: n_a, n_b, d_num, d_bp, ks_at_cents, significant."""
    from ..operators.prefix import partitioned_prefix_sums
    from ..operators.sampling import hash_bucket

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        F.when(hash_bucket(F.col("user_id"), "ab") < 5000, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("variant"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    per_cent = ev.groupBy("cents").agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).alias("nb"),
    )
    cum, totals = partitioned_prefix_sums(
        per_cent, ["na", "nb"], [F.col("cents").asc()]
    )
    n_a, n_b = totals["na"], totals["nb"]
    diffed = cum.select(
        "cents",
        F.abs(
            F.col("__cum_na") * F.lit(n_b) - F.col("__cum_nb") * F.lit(n_a)
        ).alias("diff"),
    )
    best = diffed.agg(
        F.max(
            F.struct(F.col("diff").alias("d"), (-F.col("cents")).alias("negc"))
        ).alias("s")
    ).select(
        F.col("s.d").alias("d_num"), (-F.col("s.negc")).alias("ks_at_cents")
    )
    # 1.358^2 = 1.8441...; scaled: D_num^2 > 18442*(n+m)*n*m div 10000
    # (ceil'd constant keeps the strict inequality conservative)
    thresh = 18442 * (n_a + n_b) * n_a * n_b // 10000
    return best.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.col("d_num").cast("long").alias("d_num"),
        F.expr(f"d_num * 10000 div {n_a * n_b}").cast("long").alias("d_bp"),
        F.col("ks_at_cents").cast("long").alias("ks_at_cents"),
        F.expr(f"IF(d_num * d_num > {thresh}, 1, 0)")
        .cast("long")
        .alias("significant"),
    )


_KS_SQL = r"""
WITH ev AS (
    SELECT CASE WHEN (('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT)
                     % 10000 < 5000
                THEN 'A' ELSE 'B' END AS variant,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events WHERE event_type = 'purchase'
),
per_cent AS (
    SELECT cents,
           SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS na,
           SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS nb
    FROM ev GROUP BY 1
),
tot AS (SELECT SUM(na) AS n_a, SUM(nb) AS n_b FROM per_cent),
cum AS (
    SELECT cents,
           SUM(na) OVER (ORDER BY cents ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
           SUM(nb) OVER (ORDER BY cents ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
    FROM per_cent
),
diffed AS (
    SELECT cents,
           abs(ca * (SELECT n_b FROM tot) - cb * (SELECT n_a FROM tot))
               AS diff
    FROM cum
),
best AS (
    SELECT diff AS d_num, cents AS ks_at_cents
    FROM diffed ORDER BY diff DESC, cents ASC LIMIT 1
)
SELECT CAST((SELECT n_a FROM tot) AS BIGINT) AS n_a,
       CAST((SELECT n_b FROM tot) AS BIGINT) AS n_b,
       CAST(d_num AS BIGINT) AS d_num,
       CAST(d_num * 10000 // ((SELECT n_a FROM tot) * (SELECT n_b FROM tot))
            AS BIGINT) AS d_bp,
       CAST(ks_at_cents AS BIGINT) AS ks_at_cents,
       CAST(CASE WHEN d_num * d_num >
                 18442 * ((SELECT n_a FROM tot) + (SELECT n_b FROM tot))
                       * (SELECT n_a FROM tot) * (SELECT n_b FROM tot)
                       // 10000
                 THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM best
"""

QUERIES["events_ks_drift_test"] = events_ks_drift_test
ORACLES["events_ks_drift_test"] = _KS_SQL


_SESS_SWEEP_THRESHOLDS = (60_000, 300_000, 1_800_000)


def events_session_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'choose your session gap' tuning table: sessionization swept
    over three inactivity thresholds (1 min / 5 min / 30 min) in ONE
    pass — session count, bounce share (single-event sessions), mean
    events per session (milli) and mean duration — the numbers that
    decide a product team's session definition instead of folklore.

    Shape: ONE lag() window computes each event's inactivity gap; the
    bounded threshold sweep explodes AFTER the gap (3x the gap rows,
    nothing rescans raw events); session ids are a running sum of start
    flags per (user, threshold) — every window partitioned, every
    aggregate integer-exact."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_millis("ts").alias("ts_ms"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_ms").asc(), F.col("event_id").asc()
    )
    gapped = ev.withColumn("gap", F.col("ts_ms") - F.lag("ts_ms").over(w))
    thr = F.explode(
        F.array(*[F.lit(t).cast("long") for t in _SESS_SWEEP_THRESHOLDS])
    ).alias("threshold_ms")
    flagged = gapped.select("user_id", "event_id", "ts_ms", "gap", thr).withColumn(
        "start",
        F.when(
            F.col("gap").isNull() | (F.col("gap") > F.col("threshold_ms")), 1
        ).otherwise(0),
    )
    w2 = Window.partitionBy("threshold_ms", "user_id").orderBy(
        F.col("ts_ms").asc(), F.col("event_id").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    sess = flagged.withColumn("sess_id", F.sum("start").over(w2))
    per_session = sess.groupBy("threshold_ms", "user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts_ms") - F.min("ts_ms")).alias("duration_ms"),
    )
    return (
        per_session.groupBy("threshold_ms")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("bounce_sessions"),
            F.sum("duration_ms").alias("dur_sum"),
        )
        .select(
            "threshold_ms",
            "n_sessions",
            F.expr("bounce_sessions * 10000 div n_sessions")
            .cast("long")
            .alias("bounce_bp"),
            F.expr("n_events * 1000 div n_sessions")
            .cast("long")
            .alias("events_per_session_milli"),
            F.expr("dur_sum div n_sessions").cast("long").alias("avg_duration_ms"),
        )
    )


_SESS_SWEEP_SQL = rf"""
WITH ev AS (
    SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events
),
gapped AS (
    SELECT *, ts_ms - LAG(ts_ms) OVER (PARTITION BY user_id
                 ORDER BY ts_ms ASC, event_id ASC) AS gap
    FROM ev
),
flagged AS (
    SELECT user_id, event_id, ts_ms, gap,
           CAST(t.threshold_ms AS BIGINT) AS threshold_ms,
           CASE WHEN gap IS NULL OR gap > t.threshold_ms THEN 1 ELSE 0 END
               AS start
    FROM gapped CROSS JOIN (SELECT unnest([{", ".join(str(t) for t in _SESS_SWEEP_THRESHOLDS)}])
                            AS threshold_ms) t
),
sess AS (
    SELECT *, SUM(start) OVER (PARTITION BY threshold_ms, user_id
                 ORDER BY ts_ms ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess_id
    FROM flagged
),
per_session AS (
    SELECT threshold_ms, user_id, sess_id, COUNT(*) AS n_events,
           MAX(ts_ms) - MIN(ts_ms) AS duration_ms
    FROM sess GROUP BY 1, 2, 3
)
SELECT threshold_ms,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS bounce_bp,
       CAST(SUM(n_events) * 1000 // COUNT(*) AS BIGINT)
           AS events_per_session_milli,
       CAST(SUM(duration_ms) // COUNT(*) AS BIGINT) AS avg_duration_ms
FROM per_session GROUP BY 1
"""

QUERIES["events_session_threshold_sweep"] = events_session_threshold_sweep
ORACLES["events_session_threshold_sweep"] = _SESS_SWEEP_SQL


_VELOCITY_WINDOW_MS = 60_000
_VELOCITY_LIMIT = 6


def events_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abuse/fraud velocity screen: each user's PEAK event rate in any
    trailing 60-second window (a per-event RANGE-frame count — the
    sliding maximum falls out of scanning each event's own trailing
    window, no window-start enumeration), flagged when the peak meets
    the rate limit (6/min).  Top-20 hottest users reported — the
    block-list candidate feed a rate limiter consumes.

    One exchange on user_id; RANGE frames are value-based, so same-ms
    bursts (the thing a velocity check exists to catch) land in the
    frame together regardless of row order — no tiebreak needed,
    deterministic by construction."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("ts_ms")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_ms").asc())
        .rangeBetween(-(_VELOCITY_WINDOW_MS - 1), 0)
    )
    peaks = (
        ev.withColumn("v", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(
            F.max("v").cast("long").alias("peak_per_min"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .withColumn(
            "flagged",
            F.expr(f"IF(peak_per_min >= {_VELOCITY_LIMIT}, 1, 0)").cast(
                "long"
            ),
        )
    )
    return peaks.orderBy(
        F.col("peak_per_min").desc(), F.col("user_id").asc()
    ).limit(20)


_VELOCITY_SQL = rf"""
WITH ev AS (
    SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
),
vel AS (
    SELECT user_id,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_ms
                RANGE BETWEEN {_VELOCITY_WINDOW_MS - 1} PRECEDING
                AND CURRENT ROW) AS v
    FROM ev
),
peaks AS (
    SELECT user_id,
           CAST(MAX(v) AS BIGINT) AS peak_per_min,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM vel GROUP BY 1
)
SELECT user_id, peak_per_min, n_events,
       CAST(CASE WHEN peak_per_min >= {_VELOCITY_LIMIT} THEN 1 ELSE 0 END
            AS BIGINT) AS flagged
FROM peaks
ORDER BY peak_per_min DESC, user_id ASC
LIMIT 20
"""

QUERIES["events_velocity_flags"] = events_velocity_flags
ORACLES["events_velocity_flags"] = _VELOCITY_SQL


def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of the k-NN co-occurrence item
    graph: C = 3·triangles / wedges — the one-number 'how cliquish is
    this graph' summary that separates community-structured graphs from
    random ones with the same degree sequence (Watts–Strogatz).
    Composes the registered machinery (capped baskets -> item_pairs ->
    knn_edges -> triangle_counts); wedges = Σ_v deg(v)·(deg(v)−1)/2
    over the SAME canonical edge set, so numerator and denominator
    cannot drift apart.  Σ_v n_tri counts each triangle 3x, which IS
    the 3T numerator — no separate multiply.  Four bounded scalar
    aggregates folded driver-side (the ANOVA pattern); coeff in bp."""
    from ..operators import cooccur

    pairs = cooccur.item_pairs(
        _event_items(spark, sf_dir), "user_id", "item", _COOC_CAP,
        with_lift=False,
    )
    edges = pin(cooccur.knn_edges(pairs, k=_KNN_K))
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dd = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("wedges"),
    ).collect()[0]
    n_edges = edges.count()
    tri3 = int(
        cooccur.triangle_counts(edges)
        .agg(F.coalesce(F.sum("n_tri"), F.lit(0)).alias("t3"))
        .collect()[0]["t3"]
    )
    n_nodes, wedges = int(dd["n_nodes"]), int(dd["wedges"])
    coeff_bp = tri3 * 10000 // wedges if wedges else 0
    return spark.createDataFrame(
        [(n_nodes, n_edges, wedges, tri3 // 3, coeff_bp)],
        "n_nodes LONG, n_edges LONG, wedges LONG, triangles LONG,"
        " clustering_bp LONG",
    )


_CLUSTERING_SQL = rf"""
WITH {_cooc_cte()},
edges AS (
    SELECT DISTINCT LEAST(item, neighbor) AS a, GREATEST(item, neighbor) AS b
    FROM rk WHERE rank <= {_KNN_K}
),
deg AS (
    SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
    ) GROUP BY 1
),
dd AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS wedges
    FROM deg
),
tri AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS t
    FROM edges e1
    JOIN edges e2 ON e1.b = e2.a
    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges)
SELECT (SELECT n_nodes FROM dd) AS n_nodes,
       (SELECT m FROM ne) AS n_edges,
       (SELECT wedges FROM dd) AS wedges,
       (SELECT t FROM tri) AS triangles,
       CAST(CASE WHEN (SELECT wedges FROM dd) = 0 THEN 0
                 ELSE (SELECT t FROM tri) * 3 * 10000
                      // (SELECT wedges FROM dd) END AS BIGINT)
           AS clustering_bp
"""

QUERIES["graph_clustering_coefficient"] = graph_clustering_coefficient
ORACLES["graph_clustering_coefficient"] = _CLUSTERING_SQL


# ---------------------------------------------------------------------------
# Item-based collaborative-filtering recommendations.
# ---------------------------------------------------------------------------

_RECO_TOPK = 3


def reco_item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: score every (user, candidate)
    as the summed co-occurrence strength between the candidate and the
    items the user already has (the classic Sarwar/Amazon item-CF
    aggregation), drop candidates the user owns, and keep the top-3 per
    user by (score desc, item asc).  Emits ``(user_id, reco_item, score,
    n_src, rank)`` — n_src is how many of the user's items voted.

    Scale shape: the neighbor table is per-item top-5 (bounded fan-out),
    so scoring is one equi-join expanding each basket row <=5x, one
    (user, candidate) groupBy, one anti join against the basket, and a
    per-user window — all shuffles keyed by user or item, nothing
    quadratic.  The capped basket is localCheckpointed once and reused
    by all three references instead of re-deriving the event scan."""
    ui = _event_items(spark, sf_dir)
    capped_src = ui.select(F.col("user_id").alias("u"), F.col("item").alias("i")).distinct()
    w = Window.partitionBy("u").orderBy(F.col("i").asc())
    capped = pin(
        capped_src.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _COOC_CAP)
        .drop("__rn")
    )
    # item_pairs dedups+caps internally and capping is idempotent, so the
    # checkpointed capped basket feeds it too — one events scan total
    pairs = cooccur.item_pairs(capped, "u", "i", _COOC_CAP)
    sims = cooccur.topk_neighbors(pairs, k=_COOC_TOPK).select(
        "item", "neighbor", "n_co"
    )
    cand = (
        capped.join(sims, capped.i == sims.item)
        .groupBy(F.col("u"), F.col("neighbor").alias("reco_item"))
        .agg(
            F.sum("n_co").cast("long").alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_src"),
        )
    )
    owned = capped.select("u", F.col("i").alias("reco_item"))
    fresh = cand.join(owned, ["u", "reco_item"], "left_anti")
    wr = Window.partitionBy("u").orderBy(
        F.col("score").desc(), F.col("reco_item").asc()
    )
    return (
        fresh.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _RECO_TOPK)
        .select(
            F.col("u").cast("long").alias("user_id"),
            F.col("reco_item").cast("long"),
            "score",
            "n_src",
            F.col("rank").cast("long"),
        )
    )


_RECO_SQL = rf"""
WITH {_cooc_cte()},
sims AS (SELECT item, neighbor, n_co FROM rk WHERE rank <= {_COOC_TOPK}),
cand AS (
    SELECT c.u, s.neighbor AS reco_item,
           SUM(s.n_co) AS score, COUNT(*) AS n_src
    FROM capped c JOIN sims s ON c.i = s.item
    GROUP BY 1, 2
),
fresh AS (
    SELECT cand.* FROM cand
    WHERE NOT EXISTS (SELECT 1 FROM capped x
                      WHERE x.u = cand.u AND x.i = cand.reco_item)
),
rk2 AS (
    SELECT u, reco_item, score, n_src,
           ROW_NUMBER() OVER (PARTITION BY u
                              ORDER BY score DESC, reco_item ASC) AS rank
    FROM fresh
)
SELECT CAST(u AS BIGINT) AS user_id,
       CAST(reco_item AS BIGINT) AS reco_item,
       CAST(score AS BIGINT) AS score,
       CAST(n_src AS BIGINT) AS n_src,
       CAST(rank AS BIGINT) AS rank
FROM rk2 WHERE rank <= {_RECO_TOPK}
"""

QUERIES["reco_item_cf_topk"] = reco_item_cf_topk
ORACLES["reco_item_cf_topk"] = _RECO_SQL


# ---------------------------------------------------------------------------
# Inter-arrival burstiness profile.
# ---------------------------------------------------------------------------

def events_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival histogram on a log2 scale: gaps between a
    user's consecutive events of the same type, bucketed by bit length
    (the engine-portable integer log2 — length(bin(gap))), with min/max
    gap per bucket.  A Poisson process decays geometrically across
    buckets; mass piling into the low buckets plus a fat far tail is the
    burstiness signature (sessions + idle gaps) that sizes streaming
    state timeouts and watermark delay.

    The lag() window orders by (ms, event_id) — the event_id tiebreak is
    load-bearing: same-millisecond events otherwise make the gap
    sequence nondeterministic across engines (the time_weighted_avg
    lesson).  One window exchange on (type, user), one bounded groupBy.
    """
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type", "user_id")
        .orderBy(F.col("ms").asc(), F.col("event_id").asc())
    )
    gaps = (
        ev.select(
            "event_type",
            "user_id",
            "event_id",
            F.expr("unix_millis(CAST(ts AS TIMESTAMP))").alias("ms"),
        )
        .withColumn("gap_ms", F.col("ms") - F.lag("ms").over(w))
        .filter(F.col("gap_ms").isNotNull())
    )
    return gaps.groupBy(
        "event_type",
        F.length(F.bin(F.col("gap_ms"))).cast("long").alias("gap_bin"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.min("gap_ms").cast("long").alias("min_gap_ms"),
        F.max("gap_ms").cast("long").alias("max_gap_ms"),
    )


_INTERARRIVAL_SQL = """
WITH gaps AS (
    SELECT event_type,
           epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
               PARTITION BY event_type, user_id
               ORDER BY epoch_ms(ts) ASC, event_id ASC) AS gap_ms
    FROM events
)
SELECT event_type,
       CAST(length(bin(gap_ms)) AS BIGINT) AS gap_bin,
       COUNT(*)::BIGINT AS n_gaps,
       CAST(MIN(gap_ms) AS BIGINT) AS min_gap_ms,
       CAST(MAX(gap_ms) AS BIGINT) AS max_gap_ms
FROM gaps WHERE gap_ms IS NOT NULL
GROUP BY 1, 2
"""

QUERIES["events_interarrival_profile"] = events_interarrival_profile
ORACLES["events_interarrival_profile"] = _INTERARRIVAL_SQL


# ---------------------------------------------------------------------------
# Markov removal-effect attribution.
# ---------------------------------------------------------------------------

_MKV_CHANNELS = ("click", "error", "signup", "view")
_MKV_K = 12  # fixed-point iterations — deterministic by construction


def _markov_absorption(
    trans: dict, channels: tuple, removed: str | None = None, k: int = _MKV_K
) -> int:
    """Exact truncated fixed-point absorption: v_k(s) = (sum_t p_ppm(s->t)
    * v_{k-1}(t)) div 1e6, CONV pinned 1e6, LOST (and the removed channel)
    pinned 0.  All integer; the oracle replays the SAME truncated
    iteration step by step, so convergence tolerance never enters the
    comparison — the metric IS the 12-step value."""
    states = ["START", *channels, "CONV", "LOST"]
    v = {s: 0 for s in states}
    v["CONV"] = 1_000_000
    for _ in range(k):
        nv = {}
        for s in states:
            if s == "CONV":
                nv[s] = 1_000_000
            elif s == "LOST" or (removed is not None and s == removed):
                nv[s] = 0
            else:
                tot = sum(
                    p * v.get(t, 0) for (f, t), p in trans.items() if f == s
                )
                nv[s] = tot // 1_000_000  # all terms >= 0: floor == trunc
        v = nv
    return v["START"]


def events_attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2016) — the
    model-based completion of the attribution family (last-touch,
    linear, transition matrix): per-day user journeys truncated at the
    first purchase feed a START/channel/CONV/LOST transition matrix;
    each channel's credit is how much the 12-step absorption probability
    from START drops when that channel is short-circuited to LOST.
    Emits ``(channel, base_ppm, removed_ppm, effect_bp)``.

    Scale split: journey assembly + transition counting is the
    distributed part (two chained same-partition windows on (user, day),
    one bounded groupBy — |states|² <= 36 output rows regardless of
    event volume).  The absorption solve collects that bounded matrix
    and iterates exactly in integer fixed point driver-side (the
    IVF-centroid/per-source-literal-map precedent: k-row collects only);
    the DuckDB oracle replays the identical truncated iteration as an
    unrolled 60-CTE chain, so the driver hash-checks the solver too."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(*_MKV_CHANNELS, "purchase"))
        .select(
            "user_id",
            F.expr("unix_millis(CAST(ts AS TIMESTAMP)) div 86400000").alias(
                "day_idx"
            ),
            F.expr("unix_millis(CAST(ts AS TIMESTAMP))").alias("ms"),
            "event_id",
            "event_type",
        )
    )
    wpd = Window.partitionBy("user_id", "day_idx")
    w = wpd.orderBy(F.col("ms").asc(), F.col("event_id").asc())
    e2 = ev.withColumn(
        "fp_ms",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ms"))).over(wpd),
    )
    # pin the double-window pass: FIVE plan branches read it (starts/
    # chains/ends via seq, plus conv_groups and touched_groups) and AQE
    # exchange reuse only caches the shuffle below the windows — each
    # branch re-ran the per-group sorts (guide §2.4; r12: 2.50 -> 1.9 s)
    e3 = pin(e2.withColumn(
        "fp_eid",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ms") == F.col("fp_ms")),
                F.col("event_id"),
            )
        ).over(wpd),
    ))
    kept = e3.filter(F.col("event_type") != "purchase").filter(
        F.col("fp_ms").isNull()
        | (F.col("ms") < F.col("fp_ms"))
        | ((F.col("ms") == F.col("fp_ms")) & (F.col("event_id") < F.col("fp_eid")))
    )
    coll = kept.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    # same rationale: three branches (starts/chains/ends) read seq
    seq = pin(coll.withColumn("nxt", F.lead("event_type").over(w)).withColumn(
        "rn", F.row_number().over(w)
    ))
    starts = seq.filter(F.col("rn") == 1).select(
        F.lit("START").alias("from_s"), F.col("event_type").alias("to_s")
    )
    chains = seq.filter(F.col("nxt").isNotNull()).select(
        F.col("event_type").alias("from_s"), F.col("nxt").alias("to_s")
    )
    ends = seq.filter(F.col("nxt").isNull()).select(
        F.col("event_type").alias("from_s"),
        F.when(F.col("fp_ms").isNotNull(), F.lit("CONV"))
        .otherwise(F.lit("LOST"))
        .alias("to_s"),
    )
    conv_groups = (
        e3.filter(F.col("fp_ms").isNotNull()).select("user_id", "day_idx").distinct()
    )
    touched_groups = coll.select("user_id", "day_idx").distinct()
    empty = conv_groups.join(
        touched_groups, ["user_id", "day_idx"], "left_anti"
    ).select(F.lit("START").alias("from_s"), F.lit("CONV").alias("to_s"))
    edges = starts.unionAll(chains).unionAll(ends).unionAll(empty)
    wfrom = Window.partitionBy("from_s")
    trans_df = (
        edges.groupBy("from_s", "to_s")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "from_s",
            "to_s",
            F.expr("n * 1000000 div sum(n) over (partition by from_s)")
            .cast("long")
            .alias("p_ppm"),
        )
    )
    trans = {
        (r["from_s"], r["to_s"]): r["p_ppm"] for r in trans_df.collect()
    }  # bounded: <= (|channels|+3)^2 rows by construction
    base = _markov_absorption(trans, _MKV_CHANNELS)
    out = []
    for c in _MKV_CHANNELS:
        rem = _markov_absorption(trans, _MKV_CHANNELS, removed=c)
        eff = (base - rem) * 10000 // base if base > 0 else 0
        out.append((c, base, rem, eff))
    return spark.createDataFrame(
        out, "channel string, base_ppm long, removed_ppm long, effect_bp long"
    )


def _markov_removal_sql() -> str:
    channels = _MKV_CHANNELS
    states = ["START", *channels, "CONV", "LOST"]
    states_cte = " UNION ALL ".join(f"SELECT '{s}' AS s" for s in states)
    variants = [("base", None)] + [(c, c) for c in channels]
    step_ctes = []
    for m, removed in variants:
        step_ctes.append(
            f"v_{m}_0 AS (SELECT s, CASE WHEN s = 'CONV' THEN 1000000"
            f" ELSE 0 END AS v FROM states)"
        )
        for k in range(1, _MKV_K + 1):
            rm = f"WHEN st.s = '{removed}' THEN 0 " if removed else ""
            step_ctes.append(
                f"""v_{m}_{k} AS (
  SELECT st.s AS s,
         CASE WHEN st.s = 'CONV' THEN 1000000
              WHEN st.s = 'LOST' THEN 0
              {rm}ELSE COALESCE((SELECT SUM(t.p_ppm * v.v)
                             FROM trans t JOIN v_{m}_{k - 1} v ON t.to_s = v.s
                             WHERE t.from_s = st.s), 0) // 1000000
         END AS v
  FROM states st)"""
            )
    finals = " UNION ALL ".join(
        f"SELECT '{c}' AS channel,"
        f" (SELECT v FROM v_base_{_MKV_K} WHERE s = 'START') AS base_ppm,"
        f" (SELECT v FROM v_{c}_{_MKV_K} WHERE s = 'START') AS removed_ppm"
        for c in channels
    )
    chan_list = ", ".join(f"'{c}'" for c in channels)
    steps_joined = ",\n".join(step_ctes)
    return f"""
WITH e AS (
    SELECT user_id, epoch_ms(ts) // 86400000 AS day_idx, epoch_ms(ts) AS ms,
           event_id, event_type
    FROM events
    WHERE event_type IN ({chan_list}, 'purchase')
),
e2 AS (
    SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN ms END)
                OVER (PARTITION BY user_id, day_idx) AS fp_ms
    FROM e
),
e3 AS (
    SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ms = fp_ms
                       THEN event_id END)
                OVER (PARTITION BY user_id, day_idx) AS fp_eid
    FROM e2
),
keptv AS (
    SELECT * FROM e3
    WHERE event_type <> 'purchase'
      AND (fp_ms IS NULL OR ms < fp_ms
           OR (ms = fp_ms AND event_id < fp_eid))
),
coll AS (
    SELECT * FROM (
        SELECT *, LAG(event_type) OVER (PARTITION BY user_id, day_idx
                                        ORDER BY ms, event_id) AS prev
        FROM keptv)
    WHERE prev IS NULL OR prev <> event_type
),
seq AS (
    SELECT *,
           LEAD(event_type) OVER (PARTITION BY user_id, day_idx
                                  ORDER BY ms, event_id) AS nxt,
           ROW_NUMBER() OVER (PARTITION BY user_id, day_idx
                              ORDER BY ms, event_id) AS rn
    FROM coll
),
edges AS (
    SELECT 'START' AS from_s, event_type AS to_s FROM seq WHERE rn = 1
    UNION ALL
    SELECT event_type, nxt FROM seq WHERE nxt IS NOT NULL
    UNION ALL
    SELECT event_type,
           CASE WHEN fp_ms IS NOT NULL THEN 'CONV' ELSE 'LOST' END
    FROM seq WHERE nxt IS NULL
    UNION ALL
    SELECT 'START', 'CONV'
    FROM (SELECT DISTINCT user_id, day_idx FROM e3 WHERE fp_ms IS NOT NULL) g
    WHERE NOT EXISTS (SELECT 1 FROM coll c
                      WHERE c.user_id = g.user_id AND c.day_idx = g.day_idx)
),
tcnt AS (SELECT from_s, to_s, COUNT(*) AS n FROM edges GROUP BY 1, 2),
trans AS (
    SELECT from_s, to_s,
           n * 1000000 // SUM(n) OVER (PARTITION BY from_s) AS p_ppm
    FROM tcnt
),
states AS ({states_cte}),
{steps_joined}
SELECT channel,
       CAST(base_ppm AS BIGINT) AS base_ppm,
       CAST(removed_ppm AS BIGINT) AS removed_ppm,
       CAST(CASE WHEN base_ppm > 0
                 THEN (base_ppm - removed_ppm) * 10000 // base_ppm
                 ELSE 0 END AS BIGINT) AS effect_bp
FROM ({finals})
"""


QUERIES["events_attribution_markov_removal"] = events_attribution_markov_removal
ORACLES["events_attribution_markov_removal"] = _markov_removal_sql()


# ---------------------------------------------------------------------------
# Component-size histogram of the k-NN item graph.
# ---------------------------------------------------------------------------

_COMP_KEEP_BP = 500  # keep the top 5% strongest k-NN edges (basis points)


def graph_components_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component size histogram of the strong-tie item graph
    ``(size, n_components)`` — the macro-structure readout beside the
    local ones (triangles, clustering coefficient): a giant component
    means the catalog cross-sells as a whole; mid-size islands mean
    separable product clusters; isolated items (size 1, joined back from
    the full item universe) are the cold-start set.

    "Strong tie" is adaptive, not a magic constant: of the top-10-NN
    edge set, keep the ceil(5%) with the highest co-occurrence count.
    The cut threshold is derived IN-PLAN from the value histogram of
    n_co (distinct support values — a relation bounded by the edge set,
    itself O(items·k) = catalog-bounded, never input-bounded), cum-summed
    descending and compared against ceil(E·bp/10000) via the integer
    idiom ``(E*bp + 9999) div 10000``; the 1-row threshold broadcasts
    back onto the edges.  An absolute min-support constant would silently
    keep everything at 10× the event volume — the share cut is
    scale-invariant.

    Components come from the generic min-label propagation
    (operators/graph.py::min_label_components — the dedup_clusters loop
    over any edge list): per round a pointer jump and a neighbour-min over
    the catalog-bounded edge set, two-generation persistence bound, and a
    stop in the round no label falls.  Output is bounded by the
    distinct-size count."""
    from ..operators.graph import min_label_components

    items = _event_items(spark, sf_dir).select(F.col("item")).distinct()
    pairs = cooccur.item_pairs(
        _event_items(spark, sf_dir), "user_id", "item", _COOC_CAP,
        with_lift=False,
    )
    # referenced 3× (hist, total, filter)
    edges0 = pin(
        cooccur._ranked_sym(pairs, [], _KNN_K)
        .select(
            F.least("item", "neighbor").alias("a"),
            F.greatest("item", "neighbor").alias("b"),
            "n_co",
        )
        .distinct()
    )
    vh = edges0.groupBy("n_co").agg(F.count(F.lit(1)).alias("cnt"))
    # global window over the value histogram: bounded by distinct support
    # values <= |edges| = O(catalog * k), never by input rows
    cum_w = Window.orderBy(F.col("n_co").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = vh.withColumn("cum_ge", F.sum("cnt").over(cum_w))
    tot = edges0.agg(F.count(F.lit(1)).alias("e_total"))
    thr = (
        cum.crossJoin(F.broadcast(tot))  # 1-row totals: sanctioned
        .agg(
            F.coalesce(
                F.min(
                    F.when(
                        F.col("cum_ge")
                        <= F.expr(
                            f"(e_total * {_COMP_KEEP_BP} + 9999) DIV 10000"
                        ),
                        F.col("n_co"),
                    )
                ),
                F.max("n_co"),  # even the top group exceeds the budget
            ).alias("thr")
        )
    )
    edges = (
        edges0.crossJoin(F.broadcast(thr))
        .filter(F.col("n_co") >= F.col("thr"))
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    )
    labels = min_label_components(
        edges,
        items,
        "item",
        warn_name="graph_components_knn",
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("long").alias("n_components")
    )


_COMPONENTS_SQL = rf"""
WITH RECURSIVE {_cooc_cte()},
knn_all AS (
    SELECT DISTINCT LEAST(item, neighbor) AS a, GREATEST(item, neighbor) AS b,
           n_co
    FROM rk WHERE rank <= {_KNN_K}
),
vh AS (SELECT n_co, COUNT(*) AS cnt FROM knn_all GROUP BY 1),
cum AS (
    SELECT n_co,
           SUM(cnt) OVER (ORDER BY n_co DESC ROWS UNBOUNDED PRECEDING) AS cum_ge
    FROM vh
),
tot AS (SELECT COUNT(*) AS e_total FROM knn_all),
thr AS (
    SELECT COALESCE(
        MIN(CASE WHEN cum_ge <= ((e_total * {_COMP_KEEP_BP} + 9999) // 10000)
                 THEN n_co END),
        MAX(n_co)) AS thr
    FROM cum, tot
),
edges0 AS (
    SELECT a, b FROM knn_all, thr WHERE n_co >= thr.thr
),
bidir_e AS (
    SELECT a AS s, b AS d FROM edges0
    UNION ALL
    SELECT b, a FROM edges0
),
reach(s, d) AS (
    SELECT s, d FROM bidir_e
    UNION
    SELECT r.s, e.d FROM reach r JOIN bidir_e e ON r.d = e.s
),
m AS (SELECT s AS item, MIN(d) AS mn FROM reach GROUP BY 1),
univ AS (SELECT DISTINCT i AS item FROM ui),
lab AS (
    SELECT u2.item,
           LEAST(COALESCE(m.mn, u2.item), u2.item) AS cluster_id
    FROM univ u2 LEFT JOIN m ON u2.item = m.item
),
sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM lab GROUP BY 1)
SELECT CAST(sz AS BIGINT) AS size, COUNT(*)::BIGINT AS n_components
FROM sizes GROUP BY 1
"""

QUERIES["graph_components_knn"] = graph_components_knn
ORACLES["graph_components_knn"] = _COMPONENTS_SQL


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B readout.
# ---------------------------------------------------------------------------

def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013) variance reduction for the hash-split A/B
    harness: covariate x = user's event count in the PRE period (first
    half of the corpus day span, split point derived in-plan from the
    1-row min/max-day aggregate), metric y = user's purchase count in
    the experiment period.  theta = cov(x,y)/var(x) pooled over both
    variants (the covariate predates assignment, so pooling is
    unbiased); per-variant adjusted mean =
    mean_y - theta * (mean_x_variant - mean_x_overall).

    Arithmetic discipline: every moment (n, Σx, Σy, Σxy, Σx²) is an
    EXACT integer — products cast to decimal(38,0) BEFORE the multiply
    on the Spark side to match DuckDB's HUGEINT SUM (the LTTB lesson:
    int64 silently wraps at per-user counts ~1e5 × 1e9 users); theta
    and the means become doubles only in the final identical formula in
    both dialects, ROUND(4)ed.  Under the null (hash split), the
    adjusted deltas shrink toward zero with ~var reduction r² — the
    query reports both raw and adjusted means so the reduction is
    visible.

    Shape: one groupBy(user) over events, a 2-row variant aggregate and
    a 1-row pooled aggregate, broadcast back.  Nothing wider than the
    per-user table ever shuffles."""
    from ..operators.sampling import hash_bucket

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_millis(ts) div 86400000").alias("day"),
    )
    bounds = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )  # 1-row broadcast: the split point is data-derived, not a constant
    # two consumers (pooled + per_variant) — without the pin each
    # re-ran the full events scan and per-user aggregate (guide
    # §2.4); the pin is the O(users) moment table
    per_user = pin(
        ev.crossJoin(F.broadcast(bounds))
        .withColumn("mid", F.expr("d0 + (d1 - d0) div 2"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("day") <= F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    (F.col("day") > F.col("mid"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .withColumn(
            "variant",
            F.when(hash_bucket(F.col("user_id"), "cuped") < 5000, F.lit("A"))
            .otherwise(F.lit("B")),
        )
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    per_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("x").cast("long").alias("sx_g"),
        F.sum("y").cast("long").alias("sy_g"),
    )
    theta = (
        "CASE WHEN CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx = 0"
        " THEN 0.0 ELSE"
        " CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
        " / CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
        " END"
    )
    return (
        per_variant.crossJoin(F.broadcast(pooled))
        .select(
            "variant",
            "n_g",
            "sx_g",
            "sy_g",
            F.round(F.expr("CAST(sy_g AS DOUBLE) / n_g"), 4).alias("mean_y"),
            F.round(
                F.expr(
                    f"CAST(sy_g AS DOUBLE) / n_g - ({theta})"
                    " * (CAST(sx_g AS DOUBLE) / n_g - CAST(sx AS DOUBLE) / n)"
                ),
                4,
            ).alias("mean_y_adj"),
            F.round(F.expr(theta), 4).alias("theta"),
        )
    )


_CUPED_SQL = r"""
WITH ev AS (
    SELECT user_id, event_type, epoch_ms(ts) // 86400000 AS day FROM events
),
bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
per_user AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN day <= d0 + (d1 - d0) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(SUM(CASE WHEN day > d0 + (d1 - d0) // 2
                          AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
    FROM ev, bounds GROUP BY user_id
),
tagged AS (
    SELECT x, y,
           CASE WHEN (('0x' || substr(md5('cuped:' || user_id), 1, 15))::BIGINT
                      % 10000) < 5000
                THEN 'A' ELSE 'B' END AS variant
    FROM per_user
),
pooled AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           SUM(x::HUGEINT * x) AS sxx,
           SUM(x::HUGEINT * y) AS sxy
    FROM tagged
),
per_variant AS (
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n_g,
           CAST(SUM(x) AS BIGINT) AS sx_g,
           CAST(SUM(y) AS BIGINT) AS sy_g
    FROM tagged GROUP BY 1
)
SELECT variant, n_g, sx_g, sy_g,
       ROUND(CAST(sy_g AS DOUBLE) / n_g, 4) AS mean_y,
       ROUND(CAST(sy_g AS DOUBLE) / n_g
             - (CASE WHEN n::HUGEINT * sxx - sx::HUGEINT * sx = 0 THEN 0.0 ELSE
                CAST(n::HUGEINT * sxy - sx::HUGEINT * sy AS DOUBLE)
                / CAST(n::HUGEINT * sxx - sx::HUGEINT * sx AS DOUBLE) END)
               * (CAST(sx_g AS DOUBLE) / n_g - CAST(sx AS DOUBLE) / n), 4) AS mean_y_adj,
       ROUND(CASE WHEN n::HUGEINT * sxx - sx::HUGEINT * sx = 0 THEN 0.0 ELSE
             CAST(n::HUGEINT * sxy - sx::HUGEINT * sy AS DOUBLE)
             / CAST(n::HUGEINT * sxx - sx::HUGEINT * sx AS DOUBLE) END, 4) AS theta
FROM per_variant, pooled
"""

QUERIES["events_cuped_adjustment"] = events_cuped_adjustment
ORACLES["events_cuped_adjustment"] = _CUPED_SQL


# ---------------------------------------------------------------------------
# A/B power analysis: minimum detectable effect at the current sample.
# ---------------------------------------------------------------------------

def events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-sizing readout for the hash-split A/B harness: given
    the CURRENT sample (n_a, n_b from the 'ab' split) and the baseline
    conversion measured on variant B, the minimum detectable effect at
    alpha = 5% two-sided / 80% power:
        mde = (z_{0.975} + z_{0.80}) * sqrt(p(1-p) * (1/n_a + 1/n_b))
    plus the per-variant n required to detect a 1pp absolute lift
    (n_per_arm = 2 * (z_a + z_b)^2 * p(1-p) / 0.01^2, ceil'd).  The
    companion to events_ab_test_report: that one answers "did it move",
    this one answers "how much COULD we have seen" — the pair is the
    standard experiment-review page.

    z quantiles are shared DOUBLE literals (1.959964, 0.841621 — 'D'
    suffix on the Spark side: bare decimal literals parse as DECIMAL,
    the Wilson-rank lesson); everything else derives from exact integer
    counts in one identical float formula per dialect, ROUND(6).

    Shape: one distinct-user conditional aggregate -> a 1-row report.
    Map-side partials; nothing but the per-user table shuffles."""
    from ..operators.sampling import hash_bucket

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == "purchase") & (F.col("value") > 9.0))
            .cast("int")
        ).alias("conv")
    )
    tagged = per_user.withColumn(
        "variant",
        F.when(hash_bucket(F.col("user_id"), "ab") < 5000, F.lit("A")).otherwise(
            F.lit("B")
        ),
    )
    agg = tagged.groupBy().agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("variant") == "B", F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    z = "(1.959964D + 0.841621D)"
    p = "(CAST(conv_b AS DOUBLE) / n_b)"
    return agg.select(
        "n_a",
        "n_b",
        "conv_b",
        F.round(F.expr(p), 6).alias("p_base"),
        F.round(
            F.expr(f"{z} * sqrt({p} * (1.0D - {p}) * (1.0D / n_a + 1.0D / n_b))"),
            6,
        ).alias("mde_abs"),
        F.expr(
            f"CAST(ceil(2.0D * {z} * {z} * {p} * (1.0D - {p}) / 0.0001D) AS BIGINT)"
        ).alias("n_per_arm_1pp"),
    )


_POWER_MDE_SQL = r"""
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase' AND value > 9.0
                    THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY 1
), tagged AS (
    SELECT conv,
           CASE WHEN (('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT
                      % 10000) < 5000
                THEN 'A' ELSE 'B' END AS variant
    FROM per_user
), agg AS (
    SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
    FROM tagged
)
SELECT n_a, n_b, conv_b,
       ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS p_base,
       ROUND((1.959964 + 0.841621)
             * sqrt((CAST(conv_b AS DOUBLE) / n_b)
                    * (1.0 - CAST(conv_b AS DOUBLE) / n_b)
                    * (1.0 / n_a + 1.0 / n_b)), 6) AS mde_abs,
       CAST(ceil(2.0 * (1.959964 + 0.841621) * (1.959964 + 0.841621)
                 * (CAST(conv_b AS DOUBLE) / n_b)
                 * (1.0 - CAST(conv_b AS DOUBLE) / n_b) / 0.0001) AS BIGINT)
           AS n_per_arm_1pp
FROM agg
"""

QUERIES["events_power_mde"] = events_power_mde
ORACLES["events_power_mde"] = _POWER_MDE_SQL


# ---------------------------------------------------------------------------
# CEP within() horizon sweep with timeout side-outputs (r6 verdict item 8).
# ---------------------------------------------------------------------------

_CEP_WITHIN_HORIZONS_MS = (3_600_000, 21_600_000, 86_400_000, 604_800_000)


def events_cep_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink CEP's ``within()`` knob as data: the view→click→purchase
    followedBy pattern evaluated under FOUR horizons (1 h, 6 h, 1 d,
    7 d) in ONE pass, with the TIMED-OUT partial matches counted per
    stage — the side output Flink's ``PatternTimeoutFunction`` emits
    (a match times out at stage 1 if no click binds within the horizon,
    at stage 2 if the click bound but no purchase follows in time).

    Spark shape: the two stacked conditional struct-MIN windows from
    events_cep_followed_by run ONCE (they are horizon-independent: under
    SKIP_TILL_NEXT_MATCH each step binds the FIRST qualifying event, so
    the horizon only classifies the already-bound chain); a 4-way
    explode on the view rows then aggregates per horizon.  One window
    exchange + one 4x fan-out of the smallest row set — the sweep costs
    no more than the single-horizon query.

    Boundary convention: an event at EXACTLY start+horizon still binds
    (``c_t - ts_ms <= h`` below) — inclusive, an intentional divergence
    from Flink's NFA, which times out partials at ``timestamp -
    startTimestamp >= windowTime`` (boundary = expired).  Batch, oracle,
    streaming matcher, and the differential reference all share the
    inclusive cut, so no internal inconsistency exists.  A Flink user
    porting a CEP job whose boundary-timestamp behavior must reproduce
    exactly uses the ``boundary='flink'`` knob instead — registered as
    ``events_cep_within_flink`` (r8 verdict item 3), identical plan,
    strict ``<`` cut in both engines.

    Streaming twin: streaming/cep.py::streaming_followed_by_with_timeouts
    (per-key NFA frontier that EMITS expired partials as it prunes them;
    same ``boundary`` knob); parity pinned by the randomized differential
    in tests — in BOTH modes, plus a pinned boundary-timestamp case per
    mode."""
    return _cep_within_sweep(spark, sf_dir, boundary="inclusive")


def events_cep_within_flink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events_cep_within`` under Flink's EXCLUSIVE horizon: a partial
    expires at ``timestamp - startTimestamp >= windowTime``, so an event
    landing exactly at start+horizon emits a timeout, never a match —
    the last reference-framework semantic gap, closed as a knob rather
    than a silent default change (the engine's own convention stays
    inclusive; see events_cep_within)."""
    return _cep_within_sweep(spark, sf_dir, boundary="flink")


def _cep_within_sweep(
    spark: SparkSession, sf_dir: str, boundary: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_ms").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    p1 = ev.withColumn(
        "np",
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.struct(
                    F.col("ts_ms").alias("t"), F.col("event_id").alias("e")
                ),
            )
        ).over(w),
    )
    p2 = p1.withColumn(
        "nc",
        F.min(
            F.when(
                F.col("event_type") == "click",
                F.struct(
                    F.col("ts_ms").alias("t"),
                    F.col("event_id").alias("e"),
                    F.col("np").alias("np"),
                ),
            )
        ).over(w),
    )
    views = p2.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts_ms",
        F.col("nc.t").alias("c_t"),
        F.col("nc.np.t").alias("p_t"),
    )
    sweep = views.select(
        "*",
        F.explode(
            F.array(*[F.lit(h).cast("long") for h in _CEP_WITHIN_HORIZONS_MS])
        ).alias("horizon_ms"),
    )
    h = F.col("horizon_ms")
    if boundary == "inclusive":
        click_in = F.col("c_t").isNotNull() & (F.col("c_t") - F.col("ts_ms") <= h)
        purchase_in = F.col("p_t").isNotNull() & (
            F.col("p_t") - F.col("ts_ms") <= h
        )
    else:  # flink: the boundary instant is already timed out
        click_in = F.col("c_t").isNotNull() & (F.col("c_t") - F.col("ts_ms") < h)
        purchase_in = F.col("p_t").isNotNull() & (
            F.col("p_t") - F.col("ts_ms") < h
        )
    is_match = click_in & purchase_in
    return (
        sweep.groupBy("horizon_ms")
        .agg(
            F.sum(F.when(is_match, 1).otherwise(0)).cast("long").alias("matches"),
            F.countDistinct(F.when(is_match, F.col("user_id")))
            .cast("long")
            .alias("users"),
            F.sum(F.when(~click_in, 1).otherwise(0))
            .cast("long")
            .alias("t1_timeouts"),
            F.sum(F.when(click_in & ~purchase_in, 1).otherwise(0))
            .cast("long")
            .alias("t2_timeouts"),
            F.coalesce(
                F.sum(F.when(is_match, F.col("p_t") - F.col("ts_ms"))), F.lit(0)
            )
            .cast("long")
            .alias("sum_latency_ms"),
        )
    )


def _cep_within_sql(op: str) -> str:
    """Shared oracle for the within() sweep; ``op`` is the bind cut —
    ``'<='`` (this engine's inclusive convention) or ``'<'`` (Flink's
    exclusive NFA horizon)."""
    return rf"""
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events
), p1 AS (
    SELECT *,
           MIN(CASE WHEN event_type = 'purchase'
                    THEN struct_pack(t := ts_ms, e := event_id) END)
               OVER w AS np
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
), p2 AS (
    SELECT *,
           MIN(CASE WHEN event_type = 'click'
                    THEN struct_pack(t := ts_ms, e := event_id, np := np)
               END) OVER w AS nc
    FROM p1
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
), v AS (
    SELECT user_id, ts_ms, nc.t AS c_t, nc.np.t AS p_t
    FROM p2 WHERE event_type = 'view'
), sweep AS (
    SELECT v.*, h.horizon_ms,
           (c_t IS NOT NULL AND c_t - ts_ms {op} h.horizon_ms) AS click_in,
           (p_t IS NOT NULL AND p_t - ts_ms {op} h.horizon_ms) AS purchase_in
    FROM v, (SELECT unnest([{", ".join(str(h) + "::BIGINT" for h in _CEP_WITHIN_HORIZONS_MS)}]) AS horizon_ms) h
)
SELECT horizon_ms,
       CAST(SUM(CASE WHEN click_in AND purchase_in THEN 1 ELSE 0 END) AS BIGINT) AS matches,
       CAST(COUNT(DISTINCT CASE WHEN click_in AND purchase_in THEN user_id END) AS BIGINT) AS users,
       CAST(SUM(CASE WHEN NOT click_in THEN 1 ELSE 0 END) AS BIGINT) AS t1_timeouts,
       CAST(SUM(CASE WHEN click_in AND NOT purchase_in THEN 1 ELSE 0 END) AS BIGINT) AS t2_timeouts,
       CAST(COALESCE(SUM(CASE WHEN click_in AND purchase_in THEN p_t - ts_ms END), 0) AS BIGINT) AS sum_latency_ms
FROM sweep
GROUP BY 1
"""


QUERIES["events_cep_within"] = events_cep_within
ORACLES["events_cep_within"] = _cep_within_sql("<=")
QUERIES["events_cep_within_flink"] = events_cep_within_flink
ORACLES["events_cep_within_flink"] = _cep_within_sql("<")


def events_cep_branching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink-CEP branching step — ``followedBy("x").where(click OR
    signup)`` — under SKIP_TILL_NEXT_MATCH: per user, view → (click OR
    signup) → purchase inside 7 days, reporting WHICH branch the middle
    step bound.  The OR step binds the FIRST qualifying event of EITHER
    type; the branch split tells a funnel owner which on-ramp actually
    feeds conversions.  Same two stacked conditional struct-MIN windows
    as events_cep_followed_by — the branch predicate is just a wider
    CASE, so the sweep costs one exchange like its single-type sibling.
    Per (day of view, branch): matches and distinct users."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_ms").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    p1 = ev.withColumn(
        "np",
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.struct(
                    F.col("ts_ms").alias("t"), F.col("event_id").alias("e")
                ),
            )
        ).over(w),
    )
    p2 = p1.withColumn(
        "nb",
        F.min(
            F.when(
                F.col("event_type").isin("click", "signup"),
                F.struct(
                    F.col("ts_ms").alias("t"),
                    F.col("event_id").alias("e"),
                    F.col("event_type").alias("branch"),
                    F.col("np").alias("np"),
                ),
            )
        ).over(w),
    )
    hits = p2.filter(
        (F.col("event_type") == "view")
        & F.col("nb").isNotNull()
        & F.col("nb.np").isNotNull()
        & (F.col("nb.np.t") - F.col("ts_ms") <= 7 * _DAY_MS)
    )
    return (
        hits.select(
            F.expr("ts_ms div 86400000").alias("day"),
            F.col("nb.branch").alias("branch"),
            "user_id",
        )
        .groupBy("day", "branch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("matches"),
            F.countDistinct("user_id").cast("long").alias("users"),
        )
    )


_CEP_BRANCHING_SQL = r"""
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events
), p1 AS (
    SELECT *,
           MIN(CASE WHEN event_type = 'purchase'
                    THEN struct_pack(t := ts_ms, e := event_id) END)
               OVER w AS np
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
), p2 AS (
    SELECT *,
           MIN(CASE WHEN event_type IN ('click', 'signup')
                    THEN struct_pack(t := ts_ms, e := event_id,
                                     branch := event_type, np := np)
               END) OVER w AS nb
    FROM p1
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms ASC, event_id ASC
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT ts_ms // 86400000 AS day,
       nb.branch AS branch,
       CAST(COUNT(*) AS BIGINT) AS matches,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
FROM p2
WHERE event_type = 'view' AND nb IS NOT NULL AND nb.np IS NOT NULL
  AND nb.np.t - ts_ms <= 7 * 86400000::BIGINT
GROUP BY 1, 2
"""

QUERIES["events_cep_branching"] = events_cep_branching
ORACLES["events_cep_branching"] = _CEP_BRANCHING_SQL


# ---------------------------------------------------------------------------
# Small-files compaction planning — the layout verb Delta OPTIMIZE /
# Iceberg rewriteDataFiles runs nightly on every 100 TB table.  Streaming
# ingestion writes one file per (day, 15-minute slot); the planner reads
# only the MANIFEST (file id -> byte size, millions of rows at 100 TB,
# never the data) and assigns contiguous files to merge bins by the
# classic running-sum heuristic: within each day, files in slot order are
# packed until the bin crosses the day's adaptive target
# (total_bytes / ceil-ish(n_files/4), i.e. ~4 files per rewrite task at
# any scale factor).  Contiguity is deliberate — merging neighbors
# preserves the time clustering the layout_pruning_report query measures.
# One window per day partition, no joins, no data scan.
# ---------------------------------------------------------------------------

_CP_MERGE_FACTOR = 4  # aim ~4 source files per compaction bin


def layout_compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction plan for the simulated streaming-ingest manifest: one
    'file' per (epoch day, 15-min slot) with bytes = 64*rows +
    sum(len(props)); per day, slot-ordered running sum div adaptive
    target = merge bin.  Output grain (day, bin_id): n_files, bytes_in,
    target_bytes — the rewrite task list a table service executes."""
    ev = _t(spark, sf_dir, "events").select(
        F.expr("unix_millis(cast(ts as timestamp)) div 86400000").alias("day"),
        F.expr("(unix_millis(cast(ts as timestamp)) div 60000) % 1440 div 15").alias(
            "slot"
        ),
        F.coalesce(F.length("props"), F.lit(0)).alias("plen"),
    )
    manifest = ev.groupBy("day", "slot").agg(
        (F.count(F.lit(1)) * 64 + F.sum("plen")).cast("long").alias("bytes")
    )
    day_w = Window.partitionBy("day")
    run_w = (
        Window.partitionBy("day")
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = (
        manifest.withColumn("day_total", F.sum("bytes").over(day_w))
        .withColumn("day_files", F.count(F.lit(1)).over(day_w))
        .withColumn(
            "target_bytes",
            F.expr(
                f"greatest(day_total div greatest(day_files div {_CP_MERGE_FACTOR}, 1), 1)"
            ),
        )
        .withColumn("cum_before", F.coalesce(F.sum("bytes").over(run_w), F.lit(0)))
        .withColumn("bin_id", F.expr("cum_before div target_bytes").cast("long"))
    )
    return planned.groupBy("day", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("bytes_in"),
        F.max("target_bytes").cast("long").alias("target_bytes"),
    )


_COMPACT_SQL = f"""
WITH manifest AS (
    SELECT epoch_ms(ts) // 86400000 AS day,
           (epoch_ms(ts) // 60000) % 1440 // 15 AS slot,
           COUNT(*) * 64 + SUM(COALESCE(LENGTH(props), 0)) AS bytes
    FROM events GROUP BY 1, 2
),
planned AS (
    SELECT day, slot, bytes,
           GREATEST(SUM(bytes) OVER (PARTITION BY day)
                    // GREATEST(COUNT(*) OVER (PARTITION BY day) // {_CP_MERGE_FACTOR}, 1),
                    1) AS target_bytes,
           COALESCE(SUM(bytes) OVER (PARTITION BY day ORDER BY slot
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM manifest
)
SELECT day, CAST(cum_before // target_bytes AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS bytes_in,
       CAST(MAX(target_bytes) AS BIGINT) AS target_bytes
FROM planned
GROUP BY 1, 2
"""

QUERIES["layout_compaction_planner"] = layout_compaction_planner
ORACLES["layout_compaction_planner"] = _COMPACT_SQL


# ---------------------------------------------------------------------------
# Flink COUNT windows — ``keyBy(user).countWindow(5)``: tumbling windows
# of exactly N elements per key, firing ONLY when the window fills (a
# trailing partial never emits — the semantic this query reproduces with
# a HAVING n = 5).  Spark has no count windows; the twin is a per-key
# row_number over the deterministic event order div N.  Scale posture:
# one partitioned window per user (the same shape as every per-user
# sequence query in this module), no global state — at 100 TB the
# element index is per-key, which is exactly Flink's per-key count
# trigger.  Reference parity: generalizes the reference's TIME windows
# (HotItemAnalysis.java:120) to the count-triggered family it lacks.
# ---------------------------------------------------------------------------

_CW_N = 5  # elements per count window


def events_count_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user tumbling COUNT windows of 5 events (Flink countWindow
    semantics: only full windows fire).  Output per (user_id, window_id):
    n_events, value_cents, start_ms, end_ms."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("unix_millis(cast(ts as timestamp))").alias("ms"),
        F.expr("cast(round(value * 100, 0) as bigint)").alias("cents"),
    )
    return (
        ev.withColumn(
            "wid",
            F.expr(
                "(row_number() over (partition by user_id order by ms, event_id)"
                f" - 1) div {_CW_N}"
            ),
        )
        .groupBy("user_id", F.col("wid").cast("long").alias("window_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
            F.min("ms").cast("long").alias("start_ms"),
            F.max("ms").cast("long").alias("end_ms"),
        )
        .filter(F.col("n_events") == _CW_N)
    )


_CW_SQL = f"""
WITH seq AS (
    SELECT user_id, event_id, epoch_ms(ts) AS ms,
           CAST(round(value * 100, 0) AS BIGINT) AS cents,
           (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
            - 1) // {_CW_N} AS wid
    FROM events
)
SELECT user_id, CAST(wid AS BIGINT) AS window_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS value_cents,
       CAST(MIN(ms) AS BIGINT) AS start_ms,
       CAST(MAX(ms) AS BIGINT) AS end_ms
FROM seq
GROUP BY 1, 2
HAVING COUNT(*) = {_CW_N}
"""

QUERIES["events_count_windows"] = events_count_windows
ORACLES["events_count_windows"] = _CW_SQL


# ---------------------------------------------------------------------------
# Flink DYNAMIC session gaps — ``EventTimeSessionWindows.withDynamicGap``:
# each element proposes its own window [ts, ts + gap(element)) and
# overlapping windows merge transitively, so a long-gap event (a
# purchase) keeps the session alive longer than a short-gap one (a
# view).  The engine's static-gap sessionization (session_window_count /
# session sweep) cannot express this.  Closed-form batch twin: with
# events per user in (ts, event_id) order, an element starts a NEW
# session iff ts >= running max of every earlier element's proposed end
# (earlier sessions' ends can never exceed a later break point, so the
# full-prefix max is exactly the current session's max end — the classic
# gaps-and-islands generalization).  Two partitioned windows per user
# (running max, then running sum of the break flags); no global state.
# ---------------------------------------------------------------------------

_DSG_GAP_MS = (
    "CASE event_type WHEN 'purchase' THEN 1800000 "
    "WHEN 'click' THEN 600000 ELSE 300000 END"
)  # purchase keeps the session 30 min alive; click 10; view/error 5


def events_dynamic_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions under PER-ELEMENT gaps (purchase 30 min, click
    10, rest 5).  Output per (user_id, session_id): n_events, n_types,
    start_ms, last_event_ms."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("unix_millis(cast(ts as timestamp))").alias("ms"),
    ).withColumn("end_prop", F.expr(f"ms + ({_DSG_GAP_MS})"))
    prev_max = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = Window.partitionBy("user_id").orderBy("ms", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    marked = ev.withColumn(
        "is_new",
        F.when(
            F.col("ms") >= F.coalesce(F.max("end_prop").over(prev_max), F.lit(-1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("session_id", F.sum("is_new").over(cum))
    return marked.groupBy(
        "user_id", F.col("session_id").cast("long").alias("session_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.min("ms").cast("long").alias("start_ms"),
        F.max("ms").cast("long").alias("last_event_ms"),
    )


_DSG_SQL = f"""
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
           epoch_ms(ts) + ({_DSG_GAP_MS}) AS end_prop
    FROM events
),
marked AS (
    SELECT user_id, event_id, event_type, ms,
           CASE WHEN ms >= COALESCE(
                    MAX(end_prop) OVER (PARTITION BY user_id ORDER BY ms, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                THEN 1 ELSE 0 END AS is_new
    FROM ev
),
sess AS (
    SELECT user_id, event_type, ms,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(MIN(ms) AS BIGINT) AS start_ms,
       CAST(MAX(ms) AS BIGINT) AS last_event_ms
FROM sess
GROUP BY 1, 2
"""

QUERIES["events_dynamic_session_windows"] = events_dynamic_session_windows
ORACLES["events_dynamic_session_windows"] = _DSG_SQL


# ---------------------------------------------------------------------------
# PROCESSING-TIME tumbling windows — the last Flink time characteristic
# the engine left unexposed (TimeCharacteristic.{ProcessingTime,
# IngestionTime}, the enum HotMediaTrack.java:53 imports).  Wall clocks
# are banned from tests and plans (non-replayable), so the twin pins a
# DETERMINISTIC ingestion model: events arrive in (ts, event_id) order,
# the source triggers every _PT_BATCH arrivals (stamp = trigger id — the
# streaming twin stamps foreachBatch batch_id, never wall time), and a
# processing-time tumbling window spans _PT_WIN_BATCHES consecutive
# triggers.  A window therefore holds _PT_BATCH * _PT_WIN_BATCHES
# consecutive ARRIVALS regardless of their event-time spread — the
# semantics that distinguish processing-time from every event-time
# window in the suite (and from events_count_windows, whose counts are
# PER-KEY).  The arrival sequence is a global total order, computed
# scalably in two levels: a row_number partitioned by MINUTE bucket
# (bounded: events within one minute), plus each bucket's prefix offset
# from the minute-count histogram (a bounded-aggregate global window —
# <= |minutes in corpus span| rows, curriculum_order's sanctioned
# family).  At 100 TB the production path is the streaming twin
# (arrival stamping is free at ingest); this query is its deterministic
# batch replay/backfill, and the differential test pins the two equal.
# ---------------------------------------------------------------------------

_PT_BATCH = 500  # arrivals per simulated source trigger
_PT_WIN_BATCHES = 4  # processing-time window = 4 consecutive triggers


def events_processing_time_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts per (processing-time window, event_type) under the
    deterministic ingestion model: window w holds arrivals
    [w*2000, (w+1)*2000) in (ts, event_id) order.  Output: win_id,
    event_type, cnt."""
    span = _PT_BATCH * _PT_WIN_BATCHES
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("unix_millis(cast(ts as timestamp))").alias("ms"),
    ).withColumn("bkt", F.expr("ms div 60000"))
    # prefix offset per minute bucket: bounded histogram, ordered window
    hist = ev.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    offs = hist.withColumn(
        "off",
        F.coalesce(
            F.sum("n").over(
                Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("bkt", "off")
    intra = Window.partitionBy("bkt").orderBy("ms", "event_id")
    seq = (
        ev.withColumn("r", F.row_number().over(intra))
        .join(offs, "bkt")
        .withColumn("seq", F.col("off") + F.col("r"))
    )
    return (
        seq.withColumn("win_id", F.expr(f"(seq - 1) div {span}"))
        .groupBy(F.col("win_id").cast("long").alias("win_id"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


_PT_SQL = f"""
WITH seq AS (
    SELECT event_type,
           ROW_NUMBER() OVER (ORDER BY epoch_ms(ts), event_id) AS rn
    FROM events
)
SELECT CAST((rn - 1) // {_PT_BATCH * _PT_WIN_BATCHES} AS BIGINT) AS win_id,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM seq
GROUP BY 1, 2
"""

QUERIES["events_processing_time_tumbling"] = events_processing_time_tumbling
ORACLES["events_processing_time_tumbling"] = _PT_SQL
