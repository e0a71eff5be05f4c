"""Round-5 query assemblies: mergeable sketches (HLL / KMV / count-min),
each registered with a FULL algorithm-replay DuckDB oracle — the sketch
estimators themselves are value-hash-checked, closing the gap that kept
`approx_aggregates` (Spark's built-in engine-specific sketches) as the
fleet's one rows-only row.  `approx_aggregates` stays registered as the
built-in-sketch demo; these are the checked, mergeable, 100 TB-shaped
equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import bpe
from ..operators import graph as gr
from ..operators import layout, prefix, sampling
from ..operators import sketch as sk
from ..session import Memo, persist, pin
from .relational import _t

# ---------------------------------------------------------------------------
# HyperLogLog distinct users per event type.
# ---------------------------------------------------------------------------


def sketch_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """256-register HLL per event_type.  Shuffle out is <= |types| * 256
    register rows with map-side partial max — the register table is the
    mergeable artifact a 100 TB pipeline persists per day/partition.
    Accuracy (rsd ~6.5%) is pinned against exact counts in pytest, not
    here: an exact countDistinct column would reintroduce the O(distinct)
    shuffle the sketch exists to avoid."""
    ev = _t(spark, sf_dir, "events")
    return sk.hll_distinct(ev, "user_id", ["event_type"])


_HLL_SQL = sk.hll_oracle_sql("events", "user_id", ["event_type"])


# ---------------------------------------------------------------------------
# KMV bottom-k distinct users per event type.
# ---------------------------------------------------------------------------


def sketch_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-64 KMV distinct estimate per event_type; exact below k."""
    ev = _t(spark, sf_dir, "events")
    return sk.kmv_distinct(ev, "user_id", ["event_type"])


_KMV_SQL = sk.kmv_oracle_sql("events", "user_id", ["event_type"])


# ---------------------------------------------------------------------------
# HLL merge rollup: per-type sketches folded into a global estimate.
# ---------------------------------------------------------------------------

_HLL_ALL = "__all__"


def sketch_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeability claim, exercised in the checked path: build ONE
    register table per event_type, max-merge those tables into a global
    sketch, and fold both through the estimator — the merged '__all__'
    row is computed from the per-type sketches alone, never re-scanning
    the values.  This is the artifact flow of a 100 TB deployment
    (persist per-partition sketches, fold over arbitrary spans); the
    pytest additionally pins merged == direct-over-everything
    (associativity of register max)."""
    ev = _t(spark, sf_dir, "events")
    regs = sk.hll_registers(ev, "user_id", ["event_type"])
    per_type = sk.hll_fold_registers(regs, ["event_type"])
    merged = (
        regs.groupBy("reg")
        .agg(F.max("m_rank").alias("m_rank"))
        .withColumn("event_type", F.lit(_HLL_ALL))
    )
    return per_type.unionByName(sk.hll_fold_registers(merged, ["event_type"]))


_HLL_MERGE_SQL = sk.hll_merge_oracle_sql("events", "user_id", "event_type", _HLL_ALL)


# ---------------------------------------------------------------------------
# Count-min heavy hitters.
# ---------------------------------------------------------------------------

_CMS_TOP_N = 10


def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 4x1024 count-min sketch over event user_ids (bounded 4096-row
    aggregate) and point-query it for the top-10 exact heavy hitters:
    ``(user_id, exact_cnt, cms_est)`` with cms_est >= exact_cnt by
    construction (pinned in pytest).  The exact candidate pass exists to
    exhibit estimator error in the checked output; a 100 TB deployment
    queries the sketch for externally-supplied keys instead."""
    ev = _t(spark, sf_dir, "events")
    sketch = sk.cms_build(ev, "user_id")
    cand = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
        .limit(_CMS_TOP_N)
    )
    est = sk.cms_estimate(sketch, cand.select("user_id"), "user_id")
    return cand.join(F.broadcast(est), "user_id").select(
        "user_id", F.col("exact_cnt").cast("long").alias("exact_cnt"), "cms_est"
    )


_CMS_SQL = sk.cms_oracle_sql("events", "user_id", _CMS_TOP_N)


# ---------------------------------------------------------------------------
# PageRank over the supplier<->customer trade graph.
# ---------------------------------------------------------------------------

_PR_ITERATIONS = 5


def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 power iterations, fixed-point int64) over the symmetrized
    bipartite supplier<->customer graph: an edge per distinct
    (l_suppkey, o_custkey) trading pair from lineitem ⋈ orders.
    Symmetrization guarantees out-degree >= 1 everywhere (no dangling
    mass).  The edge build is the fact-fact sort-merge join; each
    iteration is one ranks->edges equi-join + one partial-agg groupBy —
    see operators/graph.py for the 100 TB iteration shape."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    base = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
        )
        .distinct()
    )
    # one-pass symmetrization (explode, not union) — the union form ran
    # the fact-fact join + distinct once per direction (operators/graph
    # symmetrize_edges; guide §2.4)
    edges = gr.symmetrize_edges(base, "s", "c")
    return gr.pagerank(edges, _PR_ITERATIONS)


_PR_EDGES_SQL = """
WITH base AS (
  SELECT DISTINCT 'S' || l_suppkey AS s, 'C' || o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT s AS src, c AS dst FROM base
UNION ALL
SELECT c AS src, s AS dst FROM base
"""

_PAGERANK_SQL = (
    "WITH "
    + gr.pagerank_oracle_cte(_PR_EDGES_SQL, _PR_ITERATIONS)
    + f"\nSELECT node, rank_fp FROM r{_PR_ITERATIONS}"
)


# ---------------------------------------------------------------------------
# BPE merge learning over the documents corpus.
# ---------------------------------------------------------------------------

_BPE_MERGES = 3


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 3 BPE merges learned from the documents corpus (word-type
    weighted pair counting, canonical left-to-right application) — see
    operators/bpe.py for the wrapped-symbol replace trick and scale
    shape."""
    docs = _t(spark, sf_dir, "documents")
    return bpe.bpe_learn(spark, docs, "text", _BPE_MERGES)


_BPE_SQL = bpe.bpe_oracle_sql("documents", "text", _BPE_MERGES)

# learned merges memoized per input: the merge table is the tokenizer's
# persisted artifact — training it once and encoding many is the
# production shape (docs/DESIGN_DECISIONS.md, "Pin ownership")
_BPE_LEARNED_CACHE = Memo()


def _learned_merges(spark: SparkSession, sf_dir: str) -> list[str]:
    docs = _t(spark, sf_dir, "documents")

    def learn():
        rows = bpe.bpe_learn(spark, docs, "text", _BPE_MERGES).collect()
        return [r["pair"] for r in sorted(rows, key=lambda r: r["merge_round"])]

    return _BPE_LEARNED_CACHE.get(spark, [docs], (), learn)


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the corpus-learned BPE merges — the
    tokenizer's apply half (operators/bpe.py::bpe_encode): per-word
    wrapped-symbol replace chain, JVM-only, emitting token count + an
    order-sensitive md5 of the full token sequence.  The oracle re-learns
    the merges in SQL and applies them identically, so learning AND
    application are checked end-to-end with no literals crossing
    engines."""
    docs = _t(spark, sf_dir, "documents")
    return bpe.bpe_encode(docs, _learned_merges(spark, sf_dir))


_BPE_ENCODE_SQL = bpe.bpe_encode_oracle_sql("documents", "text", _BPE_MERGES)


# ---------------------------------------------------------------------------
# Weighted sampling: 200 docs with inclusion probability ~ length.
# ---------------------------------------------------------------------------

_WSAMPLE_K = 200


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-Poisson pps sample (operators/sampling.py): priority =
    hash div n_chars, keep the k smallest — one narrow projection + a
    TakeOrderedAndProject top-k, the deterministic length-weighted
    subsampling shape for 100 TB corpora."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sampling.weighted_sample(docs, _WSAMPLE_K, "n_chars")


_WSAMPLE_SQL = sampling.weighted_sample_oracle_sql(
    "documents", _WSAMPLE_K, "n_chars", select="doc_id, n_chars"
)


# ---------------------------------------------------------------------------
# Data-quality constraint report (dbt-test-style) over the star schema.
# ---------------------------------------------------------------------------


def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per integrity check with its violation count: referential
    orphans (anti-joins), key uniqueness, null/range/temporal-order
    constraints.  Each check is a single scan or broadcast/sort-merge
    join with partial aggs; checks are independent so Spark runs the
    union's branches in parallel stages.  The point of making this a
    first-class query: at 100 TB "validate before you train on it" is a
    pipeline stage, not an ad-hoc notebook."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"),
            F.coalesce(F.first("v"), F.lit(0)).cast("long").alias("violations"),
        )

    checks = [
        one(
            "lineitem_orphan_orderkey",
            li.join(od, li.l_orderkey == od.o_orderkey, "left_anti").agg(
                F.count(F.lit(1)).alias("v")
            ),
        ),
        one(
            "orders_orphan_custkey",
            od.join(cu, od.o_custkey == cu.c_custkey, "left_anti").agg(
                F.count(F.lit(1)).alias("v")
            ),
        ),
        one(
            "orders_dup_orderkey",
            od.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg((F.sum("c") - F.count(F.lit(1))).alias("v")),
        ),
        one(
            "lineitem_nonpositive_qty",
            li.agg(F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("v")),
        ),
        one(
            "lineitem_discount_range",
            li.agg(
                F.sum(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                    ).otherwise(0)
                ).alias("v")
            ),
        ),
        one(
            "lineitem_ship_before_order",
            li.join(od, li.l_orderkey == od.o_orderkey)
            .agg(
                F.sum(
                    F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
                ).alias("v")
            ),
        ),
        one(
            "customer_null_name",
            cu.agg(F.sum(F.when(F.col("c_name").isNull(), 1).otherwise(0)).alias("v")),
        ),
        one(
            "events_null_ts",
            ev.agg(F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias("v")),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


_DQ_SQL = """
SELECT 'lineitem_orphan_orderkey' AS check_name,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
       )::BIGINT AS violations
UNION ALL
SELECT 'orders_orphan_custkey',
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
       )::BIGINT
UNION ALL
SELECT 'orders_dup_orderkey',
       (SELECT SUM(c) - COUNT(*) FROM
         (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey))::BIGINT
UNION ALL
SELECT 'lineitem_nonpositive_qty',
       (SELECT COALESCE(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END), 0)
        FROM lineitem)::BIGINT
UNION ALL
SELECT 'lineitem_discount_range',
       (SELECT COALESCE(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                                 THEN 1 ELSE 0 END), 0) FROM lineitem)::BIGINT
UNION ALL
SELECT 'lineitem_ship_before_order',
       (SELECT COALESCE(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                                 THEN 1 ELSE 0 END), 0)
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)::BIGINT
UNION ALL
SELECT 'customer_null_name',
       (SELECT COALESCE(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END), 0)
        FROM customer)::BIGINT
UNION ALL
SELECT 'events_null_ts',
       (SELECT COALESCE(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0)
        FROM events)::BIGINT
"""


# ---------------------------------------------------------------------------
# Integer-exact daily anomaly flags (3-sigma without a float stddev).
# ---------------------------------------------------------------------------


def events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, utc day) counts, flagged when the day deviates
    from its type's mean by more than 3 population sigmas.  The test
    (cnt - mu)^2 > 9 sigma^2 is cross-multiplied to integers:
        (n*cnt - T)^2 > 9 * (n*SS - T^2)
    (n = days, T = sum of counts, SS = sum of squared counts), so no
    float mean/stddev ever exists in the plan and both engines flag the
    identical day set.  Headroom: n*cnt must stay under ~3e9 for the
    square to fit int64 — at larger scales divide counts by a fixed
    10^k first (the z-statistic is scale-invariant up to quantization)."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.withColumn("day", F.expr("unix_millis(cast(ts as timestamp)) div 86400000"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("t"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ss"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    dev = F.col("n") * F.col("cnt") - F.col("t")
    var9 = F.lit(9) * (F.col("n") * F.col("ss") - F.col("t") * F.col("t"))
    return j.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        F.col("cnt").cast("long").alias("cnt"),
        dev.cast("long").alias("dev_num"),
        (dev * dev > var9).alias("flagged"),
    )


_ANOMALY_SQL = """
WITH daily AS (
  SELECT event_type, epoch_ms(ts) // 86400000 AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, COUNT(*) AS n, SUM(cnt) AS t, SUM(cnt * cnt) AS ss
  FROM daily GROUP BY 1
)
SELECT d.event_type, d.day::BIGINT AS day, d.cnt::BIGINT AS cnt,
       (s.n * d.cnt - s.t)::BIGINT AS dev_num,
       ((s.n * d.cnt - s.t) * (s.n * d.cnt - s.t)
          > 9 * (s.n * s.ss - s.t * s.t)) AS flagged
FROM daily d JOIN stats s USING (event_type)
"""


# ---------------------------------------------------------------------------
# Multi-granularity rollup: coarse aggregates FROM fine partials.
# ---------------------------------------------------------------------------


def rollup_multi_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute event counts computed FROM 1-minute partials (the
    hypertable/continuous-aggregate pattern: persist the finest rollup
    once, derive every coarser granularity by re-aggregating it — at
    100 TB the 1-min table is ~1/raw_rows_per_min the size of raw).  The
    oracle aggregates RAW events straight to 5 minutes, so the hash
    match IS the re-aggregability proof (count partials compose)."""
    ev = _t(spark, sf_dir, "events")
    m1 = (
        ev.withColumn("minute", F.expr("unix_millis(cast(ts as timestamp)) div 60000"))
        .groupBy("event_type", "minute")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        m1.withColumn("bucket5", F.expr("minute div 5"))
        .groupBy("event_type", "bucket5")
        .agg(F.sum("cnt").alias("cnt"))
        .select(
            "event_type",
            (F.col("bucket5") * 300000).cast("long").alias("window_start_ms"),
            F.col("cnt").cast("long").alias("cnt"),
        )
    )


_ROLLUP_MG_SQL = """
SELECT event_type,
       ((epoch_ms(ts) // 300000) * 300000)::BIGINT AS window_start_ms,
       COUNT(*)::BIGINT AS cnt
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Session stats: session_window vs a gaps-and-islands oracle.
# ---------------------------------------------------------------------------

_SESSION_GAP_MIN = 30


def session_stats_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions (30-min inactivity gap) with event count and
    duration.  Spark side uses the native ``session_window`` aggregate
    (merging windows, partial-agg friendly); the oracle derives the SAME
    sessions with the classic gaps-and-islands construction (lag + gap
    flag + running sum), so the hash match proves Spark's session-window
    semantics against first-principles SQL — not just against itself.
    session_window.end is last_event + gap by definition; duration is
    end - start."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), f"{_SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("session_start_ms"),
            (
                F.unix_millis(F.col("w.end").cast("timestamp"))
                - F.unix_millis(F.col("w.start").cast("timestamp"))
            ).alias("duration_ms"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


_SESSION_STATS_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL {_SESSION_GAP_MIN} MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       epoch_ms(MIN(ts))::BIGINT AS session_start_ms,
       (epoch_ms(MAX(ts)) + {_SESSION_GAP_MIN * 60 * 1000}
        - epoch_ms(MIN(ts)))::BIGINT AS duration_ms,
       COUNT(*)::BIGINT AS n_events
FROM islands GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# KMV set algebra: union / intersection / Jaccard from two types' sketches.
# ---------------------------------------------------------------------------


def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate |view ∪ purchase| users, |view ∩ purchase|, and Jaccard
    from bottom-k sketches alone (Beyer et al. 2007): take the k smallest
    distinct user-hashes of the union, count how many of those belong to
    BOTH types; J ≈ matches/k, |∩| ≈ J * |∪|.  Everything after the
    top-k cut is one row; if the union has fewer than k distinct hashes
    the sketch degenerates to exact sets (the CASE arm).  All outputs
    integer: jaccard in basis points, intersection via (matches * est)
    div k."""
    ev = _t(spark, sf_dir, "events")
    h = sk.h60(F.col("user_id"), "kmv")
    d = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .select("event_type", h.alias("h"))
        .distinct()
    )
    byh = d.groupBy("h").agg(F.count(F.lit(1)).alias("types_present"))
    topk = byh.orderBy(F.col("h").asc()).limit(sk.KMV_K)
    agg = topk.agg(
        F.count(F.lit(1)).alias("n_topk"),
        F.max("h").alias("kth"),
        F.sum(F.when(F.col("types_present") == 2, 1).otherwise(0)).alias("matches"),
    )
    exact = F.col("n_topk") < sk.KMV_K
    union_est = F.when(exact, F.col("n_topk")).otherwise(
        F.floor(
            F.lit(float(sk.KMV_K - 1)) * (F.lit(float(1 << 60)) / F.col("kth").cast("double"))
        ).cast("long")
    )
    denom = F.when(exact, F.col("n_topk")).otherwise(F.lit(sk.KMV_K))
    return agg.select(
        F.col("matches").cast("long").alias("matches"),
        union_est.alias("union_est"),
        F.floor((F.col("matches") * union_est) / denom).cast("long").alias("inter_est"),
        F.floor((F.col("matches") * 10000) / denom).cast("long").alias("jaccard_bp"),
    )


_KMV_OVERLAP_SQL = f"""
WITH d AS (
  SELECT DISTINCT event_type,
         {sk.h60_sql("user_id", "kmv")} AS h
  FROM events WHERE event_type IN ('view', 'purchase')
),
byh AS (SELECT h, COUNT(*) AS types_present FROM d GROUP BY h),
topk AS (SELECT * FROM byh ORDER BY h ASC LIMIT {sk.KMV_K}),
agg AS (
  SELECT COUNT(*) AS n_topk, MAX(h) AS kth,
         SUM(CASE WHEN types_present = 2 THEN 1 ELSE 0 END) AS matches
  FROM topk
)
SELECT matches::BIGINT AS matches,
       (CASE WHEN n_topk < {sk.KMV_K} THEN n_topk
             ELSE FLOOR({float(sk.KMV_K - 1)} * ({float(1 << 60)} / kth)) END
       )::BIGINT AS union_est,
       ((matches * (CASE WHEN n_topk < {sk.KMV_K} THEN n_topk
             ELSE FLOOR({float(sk.KMV_K - 1)} * ({float(1 << 60)} / kth)) END))
        // (CASE WHEN n_topk < {sk.KMV_K} THEN n_topk ELSE {sk.KMV_K} END)
       )::BIGINT AS inter_est,
       ((matches * 10000)
        // (CASE WHEN n_topk < {sk.KMV_K} THEN n_topk ELSE {sk.KMV_K} END)
       )::BIGINT AS jaccard_bp
FROM agg
"""


# ---------------------------------------------------------------------------
# Exponentially time-decayed engagement (integer power-of-2 decay).
# ---------------------------------------------------------------------------


def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement score with 1-day half-life: each event
    contributes 2^40 >> age_days — exponential decay as a pure integer
    shift (no float pow/exp; arbitrary half-lives generalize via a
    precomputed 2^(-k/hl) fixed-point lookup, the HLL linear-counting
    pattern).  The anchor is the corpus max timestamp: a 1-row scalar
    (sanctioned tiny collect in Spark; scalar subquery in the oracle) —
    deterministic because it derives from the data."""
    ev = _t(spark, sf_dir, "events")
    anchor_ms = ev.agg(
        F.max(F.unix_millis(F.col("ts").cast("timestamp")))
    ).collect()[0][0]
    age = F.expr(
        f"({anchor_ms} - unix_millis(cast(ts as timestamp))) div 86400000"
    )
    w = F.expr(
        f"shiftright(CAST({1 << 40} AS BIGINT),"
        f" CAST(least(({anchor_ms} - unix_millis(cast(ts as timestamp)))"
        " div 86400000, 40) AS INT))"
    )
    return (
        ev.select(F.col("user_id"), w.alias("w"))
        .groupBy("user_id")
        .agg(F.sum("w").alias("score_fp"), F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("score_fp").cast("long").alias("score_fp"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


_DECAY_SQL = f"""
WITH anchor AS (SELECT MAX(epoch_ms(ts)) AS a FROM events)
SELECT user_id,
       SUM({1 << 40}::BIGINT
           >> LEAST((anchor.a - epoch_ms(ts)) // 86400000, 40))::BIGINT
         AS score_fp,
       COUNT(*)::BIGINT AS n_events
FROM events, anchor
GROUP BY user_id, anchor.a
"""


# ---------------------------------------------------------------------------
# Funnel latency: first view -> first purchase, exact quantiles.
# ---------------------------------------------------------------------------


def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time from a user's FIRST view to FIRST purchase (converted users
    only, purchase at-or-after view): converted-user count + exact
    interpolated p50/p90 latency.  Two per-user min aggregations + one
    1-row quantile — the percentile parity convention of
    percentile_value_by_type (ROUND to 4)."""
    ev = _t(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(ms).alias("v_ms"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(ms).alias("p_ms"))
    )
    lat = (
        fv.join(fp, "user_id")
        .filter(F.col("p_ms") >= F.col("v_ms"))
        .select((F.col("p_ms") - F.col("v_ms")).alias("lat_ms"))
    )
    q = lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.percentile("lat_ms", F.lit([0.5, 0.9])).alias("pcts"),
    )
    return q.select(
        "n_converted",
        F.round(F.col("pcts")[0], 4).alias("p50_ms"),
        F.round(F.col("pcts")[1], 4).alias("p90_ms"),
    )


_FUNNEL_LAT_SQL = """
WITH fv AS (
  SELECT user_id, MIN(epoch_ms(ts)) AS v_ms FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
fp AS (
  SELECT user_id, MIN(epoch_ms(ts)) AS p_ms FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
lat AS (
  SELECT fp.p_ms - fv.v_ms AS lat_ms
  FROM fv JOIN fp USING (user_id) WHERE fp.p_ms >= fv.v_ms
)
SELECT COUNT(*)::BIGINT AS n_converted,
       ROUND(QUANTILE_CONT(lat_ms, 0.5), 4) AS p50_ms,
       ROUND(QUANTILE_CONT(lat_ms, 0.9), 4) AS p90_ms
FROM lat
"""


# ---------------------------------------------------------------------------
# Histogram quantile sketch (checked twin of percentile_approx).
# ---------------------------------------------------------------------------

# Fixed domain bounds for events.value — schema knowledge, generous headroom
# (values outside clamp into the edge buckets; estimates stay one-bucket
# accurate as long as the mass is inside).
_HIST_LO, _HIST_HI = 0.0, 1000.0


def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90 of event value per type from a 1024-bucket
    equi-width histogram — the mergeable, bounded-size quantile shape
    (completes the checked approximate-aggregate trio: distinct = HLL/KMV,
    frequency = count-min, quantiles = this).  Exact interpolated twin:
    percentile_value_by_type."""
    ev = _t(spark, sf_dir, "events")
    return sk.histogram_quantiles(ev, "value", ["event_type"], _HIST_LO, _HIST_HI)


_HISTQ_SQL = sk.histogram_quantiles_oracle_sql(
    "events", "value", ["event_type"], _HIST_LO, _HIST_HI
)


# ---------------------------------------------------------------------------
# Z-order layout codes.
# ---------------------------------------------------------------------------


def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton codes over (user_id, event minute): the 100 lowest-code
    events — checks the bit-interleaving arithmetic end to end (the
    write-side clustering itself is exercised in pytest via
    repartitionByRange + sortWithinPartitions)."""
    ev = _t(spark, sf_dir, "events")
    prepped = ev.select(
        "event_id",
        "user_id",
        F.expr("(unix_millis(cast(ts as timestamp)) div 60000) & 65535").alias("m16"),
        (F.col("user_id") % 65536).alias("u16"),
    )
    coded = prepped.select(
        "event_id",
        "user_id",
        layout.zorder_code("u16", "m16").alias("zcode"),
    )
    return coded.orderBy(F.col("zcode").asc(), F.col("event_id").asc()).limit(100)


_ZORDER_SQL = f"""
WITH prepped AS (
  SELECT event_id, user_id,
         (epoch_ms(ts) // 60000) & 65535 AS m16,
         user_id % 65536 AS u16
  FROM events
)
SELECT event_id, user_id, {layout.zorder_expr_sql("u16", "m16")} AS zcode
FROM prepped
ORDER BY zcode ASC, event_id ASC
LIMIT 100
"""


QUERIES = {
    "sketch_hll_distinct_users": sketch_hll_distinct_users,
    "sketch_kmv_distinct_users": sketch_kmv_distinct_users,
    "sketch_hll_merge_rollup": sketch_hll_merge_rollup,
    "sketch_cms_heavy_hitters": sketch_cms_heavy_hitters,
    "graph_pagerank_trade": graph_pagerank_trade,
    "text_bpe_merges": text_bpe_merges,
    "text_bpe_encode": text_bpe_encode,
    "corpus_weighted_sample": corpus_weighted_sample,
    "data_quality_report": data_quality_report,
    "events_daily_anomaly": events_daily_anomaly,
    "rollup_multi_granularity": rollup_multi_granularity,
    "session_stats_per_user": session_stats_per_user,
    "sketch_kmv_overlap": sketch_kmv_overlap,
    "events_decayed_engagement": events_decayed_engagement,
    "funnel_latency_quantiles": funnel_latency_quantiles,
    "sketch_histogram_quantiles": sketch_histogram_quantiles,
    "layout_zorder_events": layout_zorder_events,
}

ORACLES = {
    "sketch_histogram_quantiles": _HISTQ_SQL,
    "layout_zorder_events": _ZORDER_SQL,
    "session_stats_per_user": _SESSION_STATS_SQL,
    "sketch_kmv_overlap": _KMV_OVERLAP_SQL,
    "events_decayed_engagement": _DECAY_SQL,
    "funnel_latency_quantiles": _FUNNEL_LAT_SQL,
    "data_quality_report": _DQ_SQL,
    "events_daily_anomaly": _ANOMALY_SQL,
    "rollup_multi_granularity": _ROLLUP_MG_SQL,
    "corpus_weighted_sample": _WSAMPLE_SQL,
    "graph_pagerank_trade": _PAGERANK_SQL,
    "text_bpe_merges": _BPE_SQL,
    "text_bpe_encode": _BPE_ENCODE_SQL,
    "sketch_hll_distinct_users": _HLL_SQL,
    "sketch_kmv_distinct_users": _KMV_SQL,
    "sketch_hll_merge_rollup": _HLL_MERGE_SQL,
    "sketch_cms_heavy_hitters": _CMS_SQL,
}


# ---------------------------------------------------------------------------
# Multi-source BFS over the trade graph.
# ---------------------------------------------------------------------------

_BFS_HOPS = 4


def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the first five suppliers over the symmetrized
    trade graph, capped at 4 hops — the reachability/blast-radius
    traversal ("everything within N trading steps of these vendors"),
    completing the graph family: influence (pagerank), communities
    (LPA), dedup clusters (min-label CC), and now traversal.  Same edge
    build and per-round join shape as graph_pagerank_trade; unreached
    nodes are absent, not sentineled (operators/graph.py::bfs_distances)."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    base = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
        )
        .distinct()
    )
    # one-pass symmetrization (explode, not union) — the union form ran
    # the fact-fact join + distinct once per direction (operators/graph
    # symmetrize_edges; guide §2.4)
    edges = gr.symmetrize_edges(base, "s", "c")
    seeds = supp.filter(F.col("s_suppkey") < 5).select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("node")
    )
    return gr.bfs_distances(edges, seeds, max_hops=_BFS_HOPS)


_BFS_SEEDS_SQL = (
    "SELECT 'S' || s_suppkey AS node FROM supplier WHERE s_suppkey < 5"
)

_BFS_SQL = (
    "WITH "
    + gr.bfs_oracle_cte(_PR_EDGES_SQL, _BFS_SEEDS_SQL, _BFS_HOPS)
    + f"\nSELECT node, CAST(d AS BIGINT) AS hops FROM d{_BFS_HOPS}"
)

QUERIES["graph_bfs_hops"] = graph_bfs_hops
ORACLES["graph_bfs_hops"] = _BFS_SQL


def parts_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by lineitem revenue: class A
    = parts covering the first 80% of cumulative revenue (descending),
    B to 95%, C the tail — the inventory-analytics standard.

    The interesting part is HOW the cumulative share is computed at
    scale: a global running sum is the textbook single-partition window
    (banned by this repo's plan gate because it serializes the fleet's
    biggest anti-pattern).  Instead this is the classic DISTRIBUTED
    PREFIX SUM: range-repartition on the total order (revenue DESC,
    partkey ASC), per-partition running sums via a window PARTITIONED BY
    spark_partition_id, and the per-partition totals — a |partitions|-row
    collect, bounded by cluster config, not data — inlined as a literal
    offset map (operators/prefix.py::partitioned_prefix_sum, shared with
    events_user_gini).  cum_i = offset[pid] + local_prefix_i.  Integer cents
    and basis points end to end; the oracle uses the plain global window
    (DuckDB is single-node — the luxury this plan exists to avoid).

    Returns (abc_class, n_parts, revenue_cents) — 3 rows."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.select(
            "l_partkey",
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("rev"))
    )
    cummed, grand_total = prefix.partitioned_prefix_sum(
        rev, "rev", [F.col("rev").desc(), F.col("l_partkey").asc()]
    )
    classed = cummed.select(
        "l_partkey",
        "rev",
        # decimal(38,0) dividend: cum·10⁴ wraps int64 once total revenue
        # cents passes ~9·10¹⁴ (any real fleet); the quotient is <= 10⁴
        # so `div`'s BIGINT result cannot wrap (oracle runs the same
        # shape in HUGEINT)
        F.expr(
            "(CAST(__cum AS DECIMAL(38,0)) * 10000) div "
            f"{max(grand_total, 1)}"
        ).alias("cum_bp"),
    )
    abc = F.when(F.col("cum_bp") <= 8000, F.lit("A")).otherwise(
        F.when(F.col("cum_bp") <= 9500, F.lit("B")).otherwise(F.lit("C"))
    )
    return (
        classed.select(abc.alias("abc_class"), "rev")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("rev").cast("long").alias("revenue_cents"),
        )
    )


_PARETO_SQL = r"""
WITH rev AS (
    SELECT l_partkey,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS rev
    FROM lineitem GROUP BY 1
), cum AS (
    SELECT l_partkey, rev,
           (CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                 ROWS UNBOUNDED PRECEDING) AS HUGEINT) * 10000)
           // GREATEST(CAST((SELECT SUM(rev) FROM rev) AS HUGEINT), 1)
           AS cum_bp
    FROM rev
)
SELECT CASE WHEN cum_bp <= 8000 THEN 'A'
            WHEN cum_bp <= 9500 THEN 'B' ELSE 'C' END AS abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS BIGINT) AS revenue_cents
FROM cum GROUP BY 1
"""

QUERIES["parts_pareto_abc"] = parts_pareto_abc
ORACLES["parts_pareto_abc"] = _PARETO_SQL


def graph_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core peeling curve of the symmetrized supplier–customer trade
    graph (same edge build as graph_pagerank_trade / graph_bfs_hops):
    per peel round, surviving nodes and edges — the cohesion screen
    ("which vendors/customers sit in densely interconnected trade",
    the k-core standard).  Fixed 3 rounds, unrolled-CTE oracle
    (operators/graph.py::kcore_peel)."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    base = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
        )
        .distinct()
    )
    # one-pass symmetrization (explode, not union) — the union form ran
    # the fact-fact join + distinct once per direction (operators/graph
    # symmetrize_edges; guide §2.4)
    edges = gr.symmetrize_edges(base, "s", "c")
    return gr.kcore_peel(edges, k=3, rounds=3)


_KCORE_SQL = (
    "WITH "
    + gr.kcore_oracle_cte(_PR_EDGES_SQL, k=3, rounds=3)
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS round,"
        f" CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,"
        f" CAST(COUNT(*) AS BIGINT) AS n_edges FROM e{i}"
        for i in (1, 2, 3)
    )
)

QUERIES["graph_kcore_trade"] = graph_kcore_trade
ORACLES["graph_kcore_trade"] = _KCORE_SQL


def bloom_join_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning with a MEASURED false-positive audit:
    build a Bloom filter (m = 2¹⁷ bits, k = 3 md5-derived hashes) over
    the orders build side's customer keys, probe every customer through
    it, and compare against the exact semi-join — per mktsegment:
    customers, exact members, Bloom passes, and false positives.  The
    audit proves the filter's one-sided guarantee (bloom_pass >=
    exact_members, never a false negative) with exact numbers, the same
    measured-not-claimed discipline as embedding_ann_recall.

    Scale shape: the filter is materialized as the DISTINCT set-bit
    table — at most m rows, bounded by CONFIG not data (the same class
    as IVF centroids), so the probe join's build side is broadcast-sized
    at any corpus scale; probes fan out k rows per key and pass iff all
    k bits hit (COUNT == k).  Deterministic md5 hashing makes the whole
    filter — bit patterns included — engine-exact."""
    m_bits, k_hashes = 1 << 17, 3
    od = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    set_bits = None
    for i in range(k_hashes):
        b = od.select((sk.h60(F.col("o_custkey"), f"bloom{i}") % m_bits).alias("bit"))
        set_bits = b if set_bits is None else set_bits.unionAll(b)
    set_bits = set_bits.distinct()

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    probes = None
    for i in range(k_hashes):
        p = cust.select(
            "c_custkey",
            (sk.h60(F.col("c_custkey"), f"bloom{i}") % m_bits).alias("bit"),
        )
        probes = p if probes is None else probes.unionAll(p)
    passes = (
        probes.join(set_bits, "bit")
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == k_hashes)
        .select("c_custkey")
    )
    exact = cust.join(
        _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
        "left_semi",
    ).select("c_custkey")

    flags = (
        cust.join(passes.withColumn("bloom_pass", F.lit(1)), "c_custkey", "left")
        .join(exact.withColumn("is_member", F.lit(1)), "c_custkey", "left")
        .select(
            "c_mktsegment",
            F.coalesce(F.col("bloom_pass"), F.lit(0)).alias("bloom_pass"),
            F.coalesce(F.col("is_member"), F.lit(0)).alias("is_member"),
        )
    )
    return flags.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("is_member").cast("long").alias("exact_members"),
        F.sum("bloom_pass").cast("long").alias("bloom_passes"),
        F.sum(
            F.when((F.col("bloom_pass") == 1) & (F.col("is_member") == 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("false_positives"),
    )


def _bloom_audit_sql() -> str:
    m_bits, k_hashes = 1 << 17, 3
    set_union = "\nUNION\n".join(
        f"SELECT {sk.h60_sql('o_custkey', f'bloom{i}')} % {m_bits} AS bit "
        "FROM (SELECT DISTINCT o_custkey FROM orders)"
        for i in range(k_hashes)
    )
    probe_union = "\nUNION ALL\n".join(
        f"SELECT c_custkey, {sk.h60_sql('c_custkey', f'bloom{i}')} % {m_bits} AS bit "
        "FROM customer"
        for i in range(k_hashes)
    )
    return rf"""
WITH set_bits AS ({set_union}),
probes AS ({probe_union}),
passes AS (
    SELECT c_custkey FROM probes JOIN set_bits USING (bit)
    GROUP BY c_custkey HAVING COUNT(*) = {k_hashes}
),
exact AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
flags AS (
    SELECT c.c_mktsegment,
           CASE WHEN p.c_custkey IS NULL THEN 0 ELSE 1 END AS bloom_pass,
           CASE WHEN e.c_custkey IS NULL THEN 0 ELSE 1 END AS is_member
    FROM customer c
    LEFT JOIN passes p ON c.c_custkey = p.c_custkey
    LEFT JOIN exact e ON c.c_custkey = e.c_custkey
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(is_member) AS BIGINT) AS exact_members,
       CAST(SUM(bloom_pass) AS BIGINT) AS bloom_passes,
       CAST(SUM(CASE WHEN bloom_pass = 1 AND is_member = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS false_positives
FROM flags GROUP BY 1
"""


QUERIES["bloom_join_prune_audit"] = bloom_join_prune_audit
ORACLES["bloom_join_prune_audit"] = _bloom_audit_sql()


_SLIDE_PANE_MS = 21_600_000  # 6 h panes
_SLIDE_PANES = 4  # 24 h sliding window, 6 h step


def sketch_hll_sliding_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 24 h distinct users at a 6 h step, pane-merged: one HLL
    register table per 6 h tumbling pane, each sliding window assembled
    by max-merging its 4 pane sketches — the fan-out happens on the
    bounded sketch table (≤256 rows/pane), never the raw events
    (operators/sketch.py::hll_sliding_distinct).  The exact per-window
    distinct is joined alongside as the estimator-error exhibit (err in
    basis points), the same measured-not-claimed discipline as the CMS
    and ANN-recall audits; a 100 TB deployment drops the exact leg and
    keeps only the sketch path."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("ts_ms")
    )
    hll = sk.hll_sliding_distinct(
        ev, "user_id", "ts_ms", _SLIDE_PANE_MS, _SLIDE_PANES
    )
    base = ev.withColumn("__pane", F.expr(f"ts_ms div {_SLIDE_PANE_MS}"))
    offs = F.array(*[F.lit(i) for i in range(_SLIDE_PANES)])
    exact = (
        base.select("user_id", "__pane", F.explode(offs).alias("__i"))
        .select((F.col("__pane") + F.col("__i")).alias("w"), "user_id")
        .groupBy("w")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    )
    return (
        hll.join(exact, "w")
        .select(
            F.col("w").cast("long").alias("w"),
            "registers_used",
            "hll_est",
            "exact_distinct",
            F.expr("abs(hll_est - exact_distinct) * 10000 div exact_distinct")
            .cast("long")
            .alias("err_bp"),
        )
    )


_HLL_SLIDING_SQL = sk.hll_sliding_oracle_sql(
    "events", "user_id", "epoch_ms(ts)", _SLIDE_PANE_MS, _SLIDE_PANES
)

QUERIES["sketch_hll_sliding_users"] = sketch_hll_sliding_users
ORACLES["sketch_hll_sliding_users"] = _HLL_SLIDING_SQL


# Benford first-digit expectation, basis points: floor(log10(1+1/d)*1e4).
_BENFORD_BP = [3010, 1760, 1249, 969, 791, 669, 579, 511, 457]


def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals — the forensic data-quality
    screen (fabricated or unit-mangled monetary data diverges from the
    log-uniform first-digit law).  Per first digit 1–9: observed count,
    observed share (bp), Benford expectation (bp, the literal
    floor(log10(1+1/d)·10⁴) table), and the signed gap — plus each
    digit's χ²-style contribution scaled by 10⁴ ((obs−exp)² div exp in
    bp² units, integer).  One narrow projection + a 9-key agg; the
    digit comes from the cents integer's decimal string, so both
    engines bucket identically (no float log10 at query time)."""
    od = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    )
    digits = od.select(
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("long")
        .alias("d")
    ).filter(F.col("d") >= 1)
    exp_arr = F.array(*[F.lit(v) for v in _BENFORD_BP])
    counted = digits.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    total = counted.agg(F.sum("n_orders")).collect()[0][0]
    return (
        counted.withColumn(
            "obs_bp", F.expr(f"n_orders * 10000 div {total}").cast("long")
        )
        .withColumn(
            "exp_bp",
            F.element_at(exp_arr, F.col("d").cast("int")).cast("long"),
        )
        .withColumn("gap_bp", (F.col("obs_bp") - F.col("exp_bp")).cast("long"))
        .withColumn(
            "chi2_contrib",
            F.expr("(obs_bp - exp_bp) * (obs_bp - exp_bp) * 10000 div exp_bp")
            .cast("long"),
        )
    )


_BENFORD_LIST = "[" + ", ".join(str(v) for v in _BENFORD_BP) + "]"

_BENFORD_SQL = rf"""
WITH cents AS (
    SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
), digits AS (
    SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS d
    FROM cents
), counted AS (
    SELECT d, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM digits WHERE d >= 1 GROUP BY 1
), tot AS (SELECT SUM(n_orders) AS t FROM counted),
b AS (
    SELECT d, n_orders,
           n_orders * 10000 // tot.t AS obs_bp,
           ({_BENFORD_LIST})[d] AS exp_bp
    FROM counted, tot
)
SELECT d, n_orders,
       CAST(obs_bp AS BIGINT) AS obs_bp,
       CAST(exp_bp AS BIGINT) AS exp_bp,
       CAST(obs_bp - exp_bp AS BIGINT) AS gap_bp,
       CAST((obs_bp - exp_bp) * (obs_bp - exp_bp) * 10000 // exp_bp AS BIGINT)
           AS chi2_contrib
FROM b
"""

QUERIES["orders_benford_audit"] = orders_benford_audit
ORACLES["orders_benford_audit"] = _BENFORD_SQL


def supplier_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-nation outlier screen on supplier balances: median +
    median-absolute-deviation instead of mean/stddev (one deep-pocketed
    supplier shifts a mean screen; it cannot move the median), flagging
    |x − median| > 5·MAD.  Both medians are the DISCRETE lower median —
    the element at rank (n+1) div 2 under a strict total order
    ((value, suppkey)) — so the whole statistic is integer-exact
    cross-engine (interpolated percentiles are the one float seam this
    family otherwise allows, percentile_value_by_type).  Two stacked
    window passes per nation (rank→median, rank→MAD) + one agg; all
    windows PARTITIONED by nation."""
    from pyspark.sql import Window

    su = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.floor(F.col("s_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    na = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = su.join(F.broadcast(na), su.s_nationkey == na.n_nationkey)

    w = Window.partitionBy("n_name")
    w1 = w.orderBy(F.col("cents").asc(), F.col("s_suppkey").asc())
    p1 = j.select(
        "n_name",
        "s_suppkey",
        "cents",
        F.row_number().over(w1).alias("rk"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).withColumn(
        "med",
        F.max(
            F.expr("CASE WHEN rk = (n + 1) div 2 THEN cents END")
        ).over(w),
    )
    w2 = w.orderBy(F.col("dev").asc(), F.col("s_suppkey").asc())
    p2 = p1.withColumn(
        "dev", F.abs(F.col("cents") - F.col("med"))
    ).withColumn("rk2", F.row_number().over(w2)).withColumn(
        "mad",
        F.max(F.expr("CASE WHEN rk2 = (n + 1) div 2 THEN dev END")).over(w),
    )
    return p2.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.max("med").cast("long").alias("median_cents"),
        F.max("mad").cast("long").alias("mad_cents"),
        F.sum(
            F.expr("CASE WHEN dev > 5 * mad THEN 1 ELSE 0 END")
        )
        .cast("long")
        .alias("n_outliers"),
    )


_MAD_SQL = r"""
WITH su AS (
    SELECT s_suppkey, n_name,
           CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT) AS cents
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
), p1 AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name
                                 ORDER BY cents ASC, s_suppkey ASC) AS rk,
           COUNT(*) OVER (PARTITION BY n_name) AS n
    FROM su
), m1 AS (
    SELECT *, MAX(CASE WHEN rk = (n + 1) // 2 THEN cents END)
                  OVER (PARTITION BY n_name) AS med
    FROM p1
), p2 AS (
    SELECT *, abs(cents - med) AS dev FROM m1
), r2 AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name
                                 ORDER BY dev ASC, s_suppkey ASC) AS rk2
    FROM p2
), m2 AS (
    SELECT *, MAX(CASE WHEN rk2 = (n + 1) // 2 THEN dev END)
                  OVER (PARTITION BY n_name) AS mad
    FROM r2
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(MAX(med) AS BIGINT) AS median_cents,
       CAST(MAX(mad) AS BIGINT) AS mad_cents,
       CAST(SUM(CASE WHEN dev > 5 * mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM m2 GROUP BY 1
"""

QUERIES["supplier_mad_outliers"] = supplier_mad_outliers
ORACLES["supplier_mad_outliers"] = _MAD_SQL


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the symmetrized trade graph — do
    high-degree suppliers trade with high-degree customers, or is the
    graph hub-and-spoke (disassortative, the usual commerce shape)?
    Signed r²·1000 between the endpoint degrees over all directed
    edges, in the house integer cross-product form (no float sqrt —
    the events_seasonality_acf statistic applied to the degree pairing):
        c = mΣxy − ΣxΣy;  signed_r2_milli = sign(c)·c²·1000 div (dx·dy)
    One degree aggregation + two hash joins of the degree table back
    onto the edge list; the six moment sums are map-side partials into
    ONE bounded aggregate and each fits int64 with room (Σxy ~ |E|·deg²
    ~ 1e10 at sf1).  The FINAL cross-product ratio does not: c²·1000
    crossed Decimal(38,0) — and then DuckDB's int128 — at the sf1
    certification pass (1.05e38; exactly the overflow class the 10x
    hash checks exist to catch).  Two-part fix: (a) the finish is
    arbitrary-precision python on the collected 1-ROW moment row (the
    sanctioned scalar-collect shape), and (b) the statistic quantizes
    |c|, dx, dy by integer-div 10^6 BEFORE squaring (nonneg // nonneg —
    identical in both engines; signed quantization would diverge, since
    python // floors while DuckDB // truncates toward zero; relative
    quantization error ~1e-13 at sf1, and the int128 oracle now has
    ~4e4x sf1 headroom)."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    base = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
        )
        .distinct()
    )
    # one-pass symmetrization (explode, not union) — the union form ran
    # the fact-fact join + distinct once per direction (operators/graph
    # symmetrize_edges; guide §2.4)
    edges = gr.symmetrize_edges(base, "s", "c")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    pairs = (
        edges.join(deg.withColumnRenamed("src", "src_k"), F.col("src") == F.col("src_k"))
        .withColumnRenamed("deg", "x")
        .drop("src_k")
        .join(
            deg.select(F.col("src").alias("dst_k"), F.col("deg").alias("y")),
            F.col("dst") == F.col("dst_k"),
        )
        .select("x", "y")
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("CAST(x AS BIGINT) * y")).cast("long").alias("sxy"),
        F.sum(F.expr("CAST(x AS BIGINT) * x")).cast("long").alias("sxx"),
        F.sum(F.expr("CAST(y AS BIGINT) * y")).cast("long").alias("syy"),
    )
    row = agg.collect()[0]  # 1-row scalar finish (see docstring)
    m = int(row[0])
    if m == 0:
        # empty pairs set: the SUM columns are NULL; the oracle's CASE
        # yields NULL signed_r2_milli on its 1-row (m=0) aggregate
        return spark.createDataFrame([(0, None)], "m LONG, signed_r2_milli LONG")
    sx, sy, sxy, sxx, syy = (int(row[i]) for i in range(1, 6))
    q = 1_000_000  # cross-product quantizer (see docstring)
    c = m * sxy - sx * sy
    # quantize |c|, never signed c: python // floors while DuckDB //
    # truncates toward zero, so signed quantization would diverge on
    # negative c — abs keeps every division nonneg/nonneg (identical in
    # both engines) and only the sign and square of c matter anyway
    cq = abs(c) // q
    dxq = (m * sxx - sx * sx) // q
    dyq = (m * syy - sy * sy) // q
    r2 = None
    if dxq > 0 and dyq > 0:
        r2 = (-1 if c < 0 else 1) * ((cq * cq * 1000) // (dxq * dyq))
    return spark.createDataFrame(
        [(m, r2)], "m LONG, signed_r2_milli LONG"
    )


_ASSORT_SQL = rf"""
WITH edges AS ({_PR_EDGES_SQL}),
deg AS (SELECT src, COUNT(*) AS dg FROM edges GROUP BY 1),
pairs AS (
    SELECT a.dg AS x, b.dg AS y
    FROM edges e JOIN deg a ON e.src = a.src JOIN deg b ON e.dst = b.src
), agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM pairs
), f AS (
    SELECT m,
           (m::HUGEINT * sxy - sx::HUGEINT * sy) AS c,
           abs(m::HUGEINT * sxy - sx::HUGEINT * sy) // 1000000 AS cq,
           (m::HUGEINT * sxx - sx::HUGEINT * sx) // 1000000 AS dxq,
           (m::HUGEINT * syy - sy::HUGEINT * sy) // 1000000 AS dyq
    FROM agg
)
SELECT m,
       CAST(CASE WHEN dxq > 0 AND dyq > 0 THEN
            (CASE WHEN c < 0 THEN -1 ELSE 1 END)
            * ((cq * cq * 1000) // (dxq * dyq)) END
            AS BIGINT) AS signed_r2_milli
FROM f
"""

QUERIES["graph_degree_assortativity"] = graph_degree_assortativity
ORACLES["graph_degree_assortativity"] = _ASSORT_SQL


def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — BPE tokens per whitespace word
    (the metric that decides whether a tokenizer is fair to a language:
    fertility ≫ 1 means the language pays more sequence length per word
    of content, skewing both cost and loss weighting).  Composes the
    corpus-learned tokenizer end-to-end: merges re-learned, every doc
    encoded (text_bpe_encode's machinery), then one per-lang reduce;
    fertility_milli = Σbpe·1000 div Σwords, integer."""
    docs = _t(spark, sf_dir, "documents")
    enc = bpe.bpe_encode(docs, _learned_merges(spark, sf_dir))
    base = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_words"),
    )
    return (
        enc.join(base, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .withColumn(
            "fertility_milli",
            F.expr("n_bpe_tokens * 1000 div n_words").cast("long"),
        )
    )


_BPE_FERTILITY_SQL = rf"""
WITH enc AS ({_BPE_ENCODE_SQL}),
base AS (
    SELECT doc_id, lang,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_words
    FROM documents
)
SELECT b.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(b.n_words) AS BIGINT) AS n_words,
       CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(e.n_bpe_tokens) * 1000 // SUM(b.n_words) AS BIGINT)
           AS fertility_milli
FROM enc e JOIN base b ON e.doc_id = b.doc_id
GROUP BY 1
"""

QUERIES["text_bpe_fertility"] = text_bpe_fertility
ORACLES["text_bpe_fertility"] = _BPE_FERTILITY_SQL


# ---------------------------------------------------------------------------
# Neighbor-set Jaccard link prediction over the trade graph.
# ---------------------------------------------------------------------------

_JACC_CAP = 16
_JACC_MIN_CO = 2
_JACC_TOPK = 3


def graph_supplier_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the supplier side of the bipartite trade graph:
    per supplier, the top-3 most similar suppliers by neighbor-set
    Jaccard (shared customers over the union, integer basis points) —
    the classic common-neighbor similarity (Liben-Nowell & Kleinberg
    2003) that powers "suppliers like this one" and supplier-substitution
    candidates.  Distinct from graph_triangle_counts (closure counting)
    and events_item_cooccurrence (lift vs independence): Jaccard
    normalizes by BOTH endpoint degrees.

    Reuses operators/cooccur.item_pairs: per-customer supplier list
    capped at 16 lowest suppkeys (the heavy-hub guard — pairs per
    customer bounded at C(16,2), never O(degree^2)); degrees are counted
    on the SAME capped relation so jaccard_bp is exactly reproducible.
    jaccard_bp = n_co * 10000 div (n_a + n_b - n_co), pure int64."""
    from pyspark.sql import Window

    from ..operators import cooccur

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    baskets = li.join(od, li.l_orderkey == od.o_orderkey).select(
        F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
    )
    # broadcast_marginals=False: |suppliers| scales with the dimension
    # table, so the marginal join stays hint-free (AQE decides at runtime)
    pairs = cooccur.item_pairs(
        baskets, "cust", "supp", _JACC_CAP, with_lift=True,
        broadcast_marginals=False,
    )
    scored = pairs.filter(F.col("n_co") >= _JACC_MIN_CO).select(
        "item_a",
        "item_b",
        "n_co",
        F.expr("n_co * 10000 div (n_a + n_b - n_co)")
        .cast("long")
        .alias("jaccard_bp"),
    )
    # one-pass symmetrization (explode, not union): the union form ran the
    # whole capped-basket pair pipeline once per direction — 32 parquet
    # scans / 70 exchanges in the physical plan; the explode halves it
    # (plans/r12/graph_supplier_jaccard_{before,after}.txt)
    sym = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("supplier"),
                    F.col("item_b").alias("neighbor"),
                    F.col("n_co").alias("n_co"),
                    F.col("jaccard_bp").alias("jaccard_bp"),
                ),
                F.struct(
                    F.col("item_b").alias("supplier"),
                    F.col("item_a").alias("neighbor"),
                    F.col("n_co").alias("n_co"),
                    F.col("jaccard_bp").alias("jaccard_bp"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    w = Window.partitionBy("supplier").orderBy(
        F.col("jaccard_bp").desc(), F.col("neighbor").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _JACC_TOPK)
        .select(
            F.col("supplier").cast("long").alias("supplier"),
            F.col("neighbor").cast("long").alias("neighbor"),
            F.col("n_co").cast("long").alias("n_co"),
            "jaccard_bp",
            "rank",
        )
    )


_JACCARD_SQL = rf"""
WITH ui AS (
    SELECT DISTINCT o_custkey AS u, l_suppkey AS i
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), capped AS (
    SELECT u, i FROM (
        SELECT u, i, ROW_NUMBER() OVER (PARTITION BY u ORDER BY i ASC) AS rn
        FROM ui)
    WHERE rn <= {_JACC_CAP}
),
marg AS (SELECT i, COUNT(*) AS n_i FROM capped GROUP BY 1),
p AS (
    SELECT a.i AS ia, b.i AS ib, COUNT(*) AS n_co
    FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_JACC_MIN_CO}
),
pj AS (
    SELECT ia, ib, n_co,
           n_co * 10000 // (ma.n_i + mb.n_i - n_co) AS jaccard_bp
    FROM p JOIN marg ma ON ia = ma.i JOIN marg mb ON ib = mb.i
),
sym AS (
    SELECT ia AS supplier, ib AS neighbor, n_co, jaccard_bp FROM pj
    UNION ALL
    SELECT ib AS supplier, ia AS neighbor, n_co, jaccard_bp FROM pj
),
rk AS (
    SELECT supplier, neighbor, n_co, jaccard_bp,
           ROW_NUMBER() OVER (PARTITION BY supplier
                              ORDER BY jaccard_bp DESC, neighbor ASC) AS rank
    FROM sym
)
SELECT CAST(supplier AS BIGINT) AS supplier,
       CAST(neighbor AS BIGINT) AS neighbor,
       CAST(n_co AS BIGINT) AS n_co,
       CAST(jaccard_bp AS BIGINT) AS jaccard_bp,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= {_JACC_TOPK}
"""

QUERIES["graph_supplier_jaccard"] = graph_supplier_jaccard
ORACLES["graph_supplier_jaccard"] = _JACCARD_SQL


# ---------------------------------------------------------------------------
# Market-concentration HHI per nation.
# ---------------------------------------------------------------------------

def nation_revenue_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of supplier revenue within each
    nation — the antitrust-style market-structure metric (HHI > 2500 ppm
    of the 1e6 scale ≈ 'highly concentrated').  Revenue converts to
    integer cents PER ROW (floor(x*100 + 0.5) — a deterministic scalar
    expression, identical IEEE result in both engines) so every
    aggregate after the scan is pure int64: share_ppm = rev_s * 1e6 div
    rev_nation, hhi_ppm = sum(share_ppm²) div 1e6.  Two partitioned
    exchanges: (nation, supplier) partial-agg and the per-nation window."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    rev = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .select(
            F.col("s_nationkey").alias("nationkey"),
            F.col("s_suppkey").alias("suppkey"),
            F.expr(
                "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
                " AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("nationkey", "suppkey")
        .agg(F.sum("cents").alias("rev"))
    )
    w = Window.partitionBy("nationkey")
    shares = rev.select(
        "nationkey",
        F.expr("rev * 1000000").alias("num"),
        F.sum("rev").over(w).alias("tot"),
    ).select("nationkey", F.expr("num div tot").alias("share_ppm"))
    hhi = shares.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.expr("sum(share_ppm * share_ppm) div 1000000")
        .cast("long")
        .alias("hhi_ppm"),
        F.max("share_ppm").cast("long").alias("top_share_ppm"),
    )
    return hhi.join(F.broadcast(na), hhi.nationkey == na.n_nationkey).select(
        F.col("n_name").alias("nation"),
        "n_suppliers",
        "hhi_ppm",
        "top_share_ppm",
    )


_HHI_SQL = """
WITH rev AS (
    SELECT s_nationkey AS nationkey, s_suppkey AS suppkey,
           SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
               AS BIGINT)) AS rev
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY 1, 2
),
shares AS (
    SELECT nationkey,
           rev * 1000000 // SUM(rev) OVER (PARTITION BY nationkey)
               AS share_ppm
    FROM rev
),
hhi AS (
    SELECT nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm,
           CAST(MAX(share_ppm) AS BIGINT) AS top_share_ppm
    FROM shares GROUP BY 1
)
SELECT n_name AS nation, n_suppliers, hhi_ppm, top_share_ppm
FROM hhi JOIN nation ON nationkey = n_nationkey
"""

QUERIES["nation_revenue_hhi"] = nation_revenue_hhi
ORACLES["nation_revenue_hhi"] = _HHI_SQL


# ---------------------------------------------------------------------------
# One-way ANOVA variance decomposition.
# ---------------------------------------------------------------------------

def part_price_anova_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA decomposition of part retail price by brand: total
    sum of squares split into between-brand and within-brand components,
    with eta² (the share of price variance the brand explains) in basis
    points — the statistical yes/no behind 'does this dimension matter'
    before anyone fits a model.

    Exact integers throughout: prices quantize to cents per row, and the
    textbook identities are cross-multiplied so no float mean exists:
        SST*n   = n*Σx² − S²         (n rows, S = Σx)
        SSB*n*g = Σ_b (n*S_b − n_b*S)² / (n_b*n) ... avoided — instead
    each group's contribution uses its own exact denominator via
    SSB = Σ_b n_b*(mean_b − mean)² cross-multiplied to
        SSB_num_b = (n*S_b − n_b*S)² / (n_b*n)  — computed as integer
    cross-products with ONE documented floor division per group (exact
    to < 1 cent²; both engines truncate identically).  SSW = SST − SSB.
    eta2_bp = SSB*10000 div SST.

    Headroom: the squared deviations square in DECIMAL(38,0)/HUGEINT
    (int64 overflows at sf0.1 — caught by the ANSI overflow error on the
    first cut); the n*ss − s² identity fits int64 through ~sf0.3 — at
    larger scales quantize to dimes (the daily_anomaly 10^k knob)."""
    pa = _t(spark, sf_dir, "part").select(
        "p_brand",
        F.expr(
            "CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)"
        ).alias("cents"),
    )
    grp = pa.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("cents").alias("sb"),
        F.sum(F.expr("cents * cents")).alias("ssb_raw"),
    )
    tot = grp.agg(
        F.sum("nb").alias("n"),
        F.sum("sb").alias("s"),
        F.sum("ssb_raw").alias("ss"),
        F.count(F.lit(1)).alias("g"),
    ).collect()[0]
    n, s, ss, g = int(tot["n"]), int(tot["s"]), int(tot["ss"]), int(tot["g"])
    # SST scaled by n:  sst_n = n*ss - s*s   (cents², exact int64 range:
    # n ~ 2e4, ss ~ 2e4*(1e5)² = 2e14 -> 4e18; headroom documented)
    sst_n = n * ss - s * s
    # the squared deviation (n*sb - nb*s)^2 exceeds int64 at sf0.1 —
    # square in DECIMAL(38,0) (HUGEINT in the oracle); the QUOTIENT fits
    # int64 again, and Spark's integral `div` on decimals returns BIGINT
    per_group = grp.select(
        F.expr(
            f"CAST(CAST(CAST({n} AS BIGINT) * sb - nb * CAST({s} AS BIGINT)"
            f" AS DECIMAL(19,0))"
            f" * CAST(CAST({n} AS BIGINT) * sb - nb * CAST({s} AS BIGINT)"
            f" AS DECIMAL(19,0))"
            f" div CAST(nb * CAST({n} AS BIGINT) AS DECIMAL(19,0))"
            f" AS BIGINT)"
        ).alias("ssb_contrib_n")
    )
    ssb_n = per_group.agg(F.sum("ssb_contrib_n")).collect()[0][0]
    return spark.createDataFrame(
        [
            (
                n,
                g,
                int(sst_n),
                int(ssb_n),
                int(sst_n) - int(ssb_n),
                int(ssb_n) * 10000 // int(sst_n) if sst_n else 0,
            )
        ],
        "n_parts LONG, n_brands LONG, sst_n LONG, ssb_n LONG,"
        " ssw_n LONG, eta2_bp LONG",
    )


_ANOVA_SQL = r"""
WITH pa AS (
    SELECT p_brand,
           CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
    FROM part
),
grp AS (
    SELECT p_brand, COUNT(*) AS nb, SUM(cents) AS sb,
           SUM(cents * cents) AS ssb_raw
    FROM pa GROUP BY 1
),
tot AS (
    SELECT SUM(nb) AS n, SUM(sb) AS s, SUM(ssb_raw) AS ss,
           COUNT(*) AS g
    FROM grp
),
per_group AS (
    SELECT CAST(CAST((SELECT n FROM tot) * sb - nb * (SELECT s FROM tot)
                     AS HUGEINT)
              * CAST((SELECT n FROM tot) * sb - nb * (SELECT s FROM tot)
                     AS HUGEINT)
              // (nb * (SELECT n FROM tot)) AS BIGINT) AS ssb_contrib_n
    FROM grp
),
agg AS (
    SELECT (SELECT n FROM tot) AS n_parts,
           (SELECT g FROM tot) AS n_brands,
           (SELECT n FROM tot) * (SELECT ss FROM tot)
             - (SELECT s FROM tot) * (SELECT s FROM tot) AS sst_n,
           SUM(ssb_contrib_n) AS ssb_n
    FROM per_group
)
SELECT CAST(n_parts AS BIGINT) AS n_parts,
       CAST(n_brands AS BIGINT) AS n_brands,
       CAST(sst_n AS BIGINT) AS sst_n,
       CAST(ssb_n AS BIGINT) AS ssb_n,
       CAST(sst_n - ssb_n AS BIGINT) AS ssw_n,
       CAST(CASE WHEN sst_n = 0 THEN 0
                 ELSE ssb_n * 10000 // sst_n END AS BIGINT) AS eta2_bp
FROM agg
"""

QUERIES["part_price_anova_by_brand"] = part_price_anova_by_brand
ORACLES["part_price_anova_by_brand"] = _ANOVA_SQL


# ---------------------------------------------------------------------------
# Market-basket association rules (support / confidence / lift).
# ---------------------------------------------------------------------------

_RULES_MIN_SUPPORT_BP = 220  # ~median pair support at sf0.01 — the filter must bite


def orders_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets at brand granularity — the
    classic market-basket analysis (Agrawal/Srikant A-priori output for
    itemsets of size 2), emitted as ``antecedent -> consequent`` rules
    with integer fixed-point metrics: ``support_bp = n_ab*1e4 div
    n_orders``, ``confidence_bp = n_ab*1e4 div n_a``, ``lift_x1000 =
    n_ab*n_orders*1000 div (n_a*n_b)`` (decimal(38,0) factors — the
    cross product exceeds int64 at warehouse order counts).

    Scale shape: baskets dedup to (order, brand) pairs — one shuffle on
    the composite key; the pair self-join shuffles on l_orderkey only
    (co-partitioned equi-join, ~|basket|²/2 pairs per order, bounded by
    the 25-brand alphabet); marginals are a 25-row relation joined to a
    <=600-row rule table, so the metric joins are trivially local under
    AQE.  Nothing in the plan grows super-linearly with orders.
    """
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    # referenced by totals, marginals, and both sides of the pair
    # self-join — checkpoint once instead of 4 scans of lineitem
    baskets = pin(
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    totals = baskets.groupBy().agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    marg = baskets.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_x")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(F.col("a.p_brand").alias("x"), F.col("b.p_brand").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    both = pr.select(
        F.col("x").alias("antecedent"), F.col("y").alias("consequent"), "n_ab"
    ).unionAll(
        pr.select(
            F.col("y").alias("antecedent"), F.col("x").alias("consequent"), "n_ab"
        )
    )
    ma = marg.select(F.col("p_brand").alias("antecedent"), F.col("n_x").alias("n_a"))
    mc = marg.select(F.col("p_brand").alias("consequent"), F.col("n_x").alias("n_b"))
    out = (
        both.join(ma, "antecedent")
        .join(mc, "consequent")
        .crossJoin(F.broadcast(totals))  # 1-row totals (skew.py precedent)
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            F.expr("n_ab * 10000 div n_orders").cast("long").alias("support_bp"),
            F.expr("n_ab * 10000 div n_a").cast("long").alias("confidence_bp"),
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_x1000"),
        )
        .where(F.col("support_bp") >= _RULES_MIN_SUPPORT_BP)
    )
    return out


_BASKET_RULES_SQL = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, p_brand
    FROM lineitem JOIN part ON l_partkey = p_partkey
),
tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets),
marg AS (SELECT p_brand, COUNT(*)::BIGINT AS n_x FROM baskets GROUP BY 1),
pr AS (
    SELECT a.p_brand AS x, b.p_brand AS y, COUNT(*)::BIGINT AS n_ab
    FROM baskets a
    JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
),
bidir AS (
    SELECT x AS antecedent, y AS consequent, n_ab FROM pr
    UNION ALL
    SELECT y AS antecedent, x AS consequent, n_ab FROM pr
),
m AS (
    SELECT antecedent, consequent, n_ab,
           n_ab * 10000 // (SELECT n_orders FROM tot) AS support_bp,
           n_ab * 10000 // ma.n_x AS confidence_bp,
           CAST(n_ab::HUGEINT * (SELECT n_orders FROM tot) * 1000
                // (ma.n_x::HUGEINT * mc.n_x) AS BIGINT) AS lift_x1000
    FROM bidir
    JOIN marg ma ON ma.p_brand = antecedent
    JOIN marg mc ON mc.p_brand = consequent
)
SELECT antecedent, consequent,
       CAST(n_ab AS BIGINT) AS n_ab,
       CAST(support_bp AS BIGINT) AS support_bp,
       CAST(confidence_bp AS BIGINT) AS confidence_bp,
       lift_x1000
FROM m WHERE support_bp >= {_RULES_MIN_SUPPORT_BP}
"""

QUERIES["orders_basket_rules"] = orders_basket_rules
ORACLES["orders_basket_rules"] = _BASKET_RULES_SQL


# ---------------------------------------------------------------------------
# Referential-integrity audit across every TPC-H foreign-key edge.
# ---------------------------------------------------------------------------

_FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)
_PK_COLS = (
    ("orders", "o_orderkey"),
    ("part", "p_partkey"),
    ("supplier", "s_suppkey"),
    ("customer", "c_custkey"),
)


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-table referential-integrity report: for every FK edge of the
    schema, ``(edge, n_rows, n_null, n_bad)`` where ``n_bad`` counts
    non-null FKs with no parent row (orphans); plus one row per primary
    key asserting uniqueness (``n_bad = n_rows - n_distinct``).  The
    pre-load gate a warehouse runs before trusting join results — as a
    checked query rather than a script.

    Scale shape: each edge is one left join shuffled on its own key with
    the count folded map-side; edges are independent jobs unioned at the
    end (7 + 4 one-row relations).  No edge materializes anything wider
    than (fk, pk-hit) pairs.
    """
    rows = []
    for child, fk, parent, pk in _FK_EDGES:
        c = _t(spark, sf_dir, child).select(F.col(fk).alias("__fk"))
        p = _t(spark, sf_dir, parent).select(F.col(pk).alias("__pk"))
        j = c.join(p, F.col("__fk") == F.col("__pk"), "left")
        rows.append(
            j.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.when(F.col("__fk").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_null"),
                F.sum(
                    F.when(
                        F.col("__fk").isNotNull() & F.col("__pk").isNull(), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_bad"),
            ).select(
                F.lit(f"{child}.{fk}->{parent}.{pk}").alias("edge"),
                "n_rows",
                "n_null",
                "n_bad",
            )
        )
    for parent, pk in _PK_COLS:
        p = _t(spark, sf_dir, parent)
        rows.append(
            p.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_null"),
                (F.count(F.lit(1)) - F.countDistinct(pk))
                .cast("long")
                .alias("n_bad"),
            ).select(
                F.lit(f"{parent}.{pk}!unique").alias("edge"),
                "n_rows",
                "n_null",
                "n_bad",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def _fk_edge_sql(child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
SELECT '{child}.{fk}->{parent}.{pk}' AS edge,
       COUNT(*)::BIGINT AS n_rows,
       SUM(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       SUM(CASE WHEN c.{fk} IS NOT NULL AND p.{pk} IS NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_bad
FROM {child} c LEFT JOIN {parent} p ON c.{fk} = p.{pk}
"""


def _pk_unique_sql(parent: str, pk: str) -> str:
    return f"""
SELECT '{parent}.{pk}!unique' AS edge,
       COUNT(*)::BIGINT AS n_rows,
       SUM(CASE WHEN {pk} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       (COUNT(*) - COUNT(DISTINCT {pk}))::BIGINT AS n_bad
FROM {parent}
"""


_FK_AUDIT_SQL = "\nUNION ALL\n".join(
    [_fk_edge_sql(*e) for e in _FK_EDGES] + [_pk_unique_sql(*p) for p in _PK_COLS]
)

QUERIES["fk_integrity_audit"] = fk_integrity_audit
ORACLES["fk_integrity_audit"] = _FK_AUDIT_SQL


# ---------------------------------------------------------------------------
# Additive seasonal decomposition (STL-lite) of hourly event volume.
# ---------------------------------------------------------------------------

def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type hour-of-day seasonal profile with residual energy —
    the additive decomposition count = daily_level + seasonal(hod) +
    residual, all in x1000 fixed point: ``dev = c*1000 - (sum(c) over
    day * 1000 div cells)``, ``seasonal(hod) = sum(dev) over (type,hod)
    div n_days``, residual = dev - seasonal.  The diagnostic behind
    `events_seasonality_acf`: ACF says *whether* a daily cycle exists,
    this says *what shape* it has and how much variance it leaves.

    Scale shape: one groupBy on (type, day, hod) with map-side partials,
    then two partitioned windows (by (type, day) and (type, hod)) and a
    24*|types|-row final agg — every exchange is keyed by event_type
    plus a bounded calendar component; nothing is global.  Truncating
    `div` agrees between engines for negative deviations (both truncate
    toward zero).
    """
    from ..operators.timeseries import seasonal_decompose_hod

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_millis(CAST(ts AS TIMESTAMP))").alias("ms"),
    )
    return seasonal_decompose_hod(ev, "event_type", "ms")


_SEASONAL_DECOMP_SQL = """
WITH cells AS (
    SELECT event_type,
           (epoch_ms(ts) // 3600000) // 24 AS day_idx,
           (epoch_ms(ts) // 3600000) % 24 AS hod,
           COUNT(*)::BIGINT AS c
    FROM events GROUP BY 1, 2, 3
),
dev AS (
    SELECT event_type, day_idx, hod,
           c * 1000 - (SUM(c) OVER (PARTITION BY event_type, day_idx) * 1000
                       // COUNT(*) OVER (PARTITION BY event_type, day_idx))
               AS dev_x1000
    FROM cells
),
sea AS (
    SELECT event_type, hod, dev_x1000,
           COUNT(*) OVER (PARTITION BY event_type, hod) AS n_days,
           SUM(dev_x1000) OVER (PARTITION BY event_type, hod)
             // COUNT(*) OVER (PARTITION BY event_type, hod) AS sea_x1000
    FROM dev
)
SELECT event_type,
       CAST(hod AS BIGINT) AS hod,
       CAST(MAX(n_days) AS BIGINT) AS n_days,
       CAST(MAX(sea_x1000) AS BIGINT) AS seasonal_x1000,
       CAST(SUM(abs(dev_x1000 - sea_x1000)) // COUNT(*) AS BIGINT)
           AS mean_abs_resid_x1000
FROM sea GROUP BY 1, 2
"""

QUERIES["events_seasonal_decompose"] = events_seasonal_decompose
ORACLES["events_seasonal_decompose"] = _SEASONAL_DECOMP_SQL


# ---------------------------------------------------------------------------
# l-diversity audit (the sensitive-attribute completion of k-anonymity).
# ---------------------------------------------------------------------------

def events_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity over quasi-identifier groups — k-anonymity
    (events_k_anonymity) bounds group SIZE; this bounds what a group
    reveals: with QI = (day, value-decile) and event_type as the
    sensitive attribute, a group where every row shares one event_type
    leaks that attribute for every member even if the group is large
    (homogeneity attack, Machanavajjhala et al. 2007).  Emits
    ``(day_idx, value_bucket, n_rows, n_users, l_distinct, at_risk)``
    with at_risk = l_distinct < 3.  One groupBy on the QI key with two
    distinct-counts folded in the same exchange.
    """
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy(
        F.expr("unix_millis(CAST(ts AS TIMESTAMP)) div 86400000").alias("day_idx"),
        F.expr("CAST(floor(value) AS BIGINT) div 10").alias("value_bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.countDistinct("event_type").cast("long").alias("l_distinct"),
    )
    return g.select(
        F.col("day_idx").cast("long"),
        "value_bucket",
        "n_rows",
        "n_users",
        "l_distinct",
        (F.col("l_distinct") < 3).alias("at_risk"),
    )


_L_DIVERSITY_SQL = """
SELECT (epoch_ms(ts) // 86400000)::BIGINT AS day_idx,
       CAST(floor(value) AS BIGINT) // 10 AS value_bucket,
       COUNT(*)::BIGINT AS n_rows,
       COUNT(DISTINCT user_id)::BIGINT AS n_users,
       COUNT(DISTINCT event_type)::BIGINT AS l_distinct,
       COUNT(DISTINCT event_type) < 3 AS at_risk
FROM events
GROUP BY 1, 2
"""

QUERIES["events_l_diversity"] = events_l_diversity
ORACLES["events_l_diversity"] = _L_DIVERSITY_SQL


# ---------------------------------------------------------------------------
# Functional-dependency discovery audit.
# ---------------------------------------------------------------------------

_FD_CANDIDATES = (
    ("part", "p_name", "p_brand"),
    ("part", "p_brand", "p_type"),
    ("part", "p_type", "p_size"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("nation", "n_nationkey", "n_regionkey"),
)


def schema_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency discovery (the Metanome/TANE
    family reduced to candidate verification): for each candidate
    ``lhs -> rhs`` measure how badly it fails — ``(fd, n_lhs_groups,
    n_violating, max_rhs_distinct, violation_bp)`` where a violating
    group is an lhs value mapping to >1 distinct rhs.  violation_bp = 0
    certifies the FD holds exactly (a license for dictionary-encoding
    rhs against lhs, pruning rhs from join keys, or flagging dirty
    data).  Each candidate is ONE groupBy on its lhs with a distinct-rhs
    count folded map-side, then a 1-row aggregate; candidates are
    independent unioned jobs.
    """
    rows = []
    for table, lhs, rhs in _FD_CANDIDATES:
        t = _t(spark, sf_dir, table)
        g = t.groupBy(lhs).agg(F.countDistinct(rhs).alias("n_rhs"))
        rows.append(
            g.agg(
                F.count(F.lit(1)).cast("long").alias("n_lhs_groups"),
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating"),
                F.max("n_rhs").cast("long").alias("max_rhs_distinct"),
            ).select(
                F.lit(f"{table}.{lhs}->{rhs}").alias("fd"),
                "n_lhs_groups",
                "n_violating",
                "max_rhs_distinct",
                F.expr("n_violating * 10000 div n_lhs_groups")
                .cast("long")
                .alias("violation_bp"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def _fd_sql(table: str, lhs: str, rhs: str) -> str:
    return f"""
SELECT '{table}.{lhs}->{rhs}' AS fd,
       COUNT(*)::BIGINT AS n_lhs_groups,
       SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
       MAX(n_rhs)::BIGINT AS max_rhs_distinct,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS violation_bp
FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS n_rhs FROM {table} GROUP BY 1)
"""


_FD_AUDIT_SQL = "\nUNION ALL\n".join(_fd_sql(*c) for c in _FD_CANDIDATES)

QUERIES["schema_fd_audit"] = schema_fd_audit
ORACLES["schema_fd_audit"] = _FD_AUDIT_SQL


# ---------------------------------------------------------------------------
# Fulfillment-latency exact percentiles per order priority.
# ---------------------------------------------------------------------------

def orders_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of order-to-ship latency (days) per order
    priority — the SLA report, computed as value-at-rank instead of any
    interpolating percentile: rank_p = ceil(n*p/100) = (n*p + 99) div
    100 over the days-ascending per-priority ordering (the discrete
    lower-percentile convention of supplier_mad_outliers).  Tied day
    values make the value at a rank unique regardless of tie order, so
    no tiebreak column is needed.  Emits ``(priority, n_lines, p50_days,
    p90_days, p99_days)``.

    One join shuffled on orderkey, one window exchange per priority
    (row_number + count fused over the same sort), 5-row output."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    days = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.expr(
                "unix_millis(CAST(l_shipdate AS TIMESTAMP)) div 86400000"
                " - unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000"
            ).alias("days"),
        )
    )
    w = Window.partitionBy("priority").orderBy(F.col("days").asc())
    wn = Window.partitionBy("priority")
    r = days.select(
        "priority",
        "days",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_lines"),
        F.max(F.when(F.col("rn") == F.expr("(n * 50 + 99) div 100"), F.col("days")))
        .cast("long")
        .alias("p50_days"),
        F.max(F.when(F.col("rn") == F.expr("(n * 90 + 99) div 100"), F.col("days")))
        .cast("long")
        .alias("p90_days"),
        F.max(F.when(F.col("rn") == F.expr("(n * 99 + 99) div 100"), F.col("days")))
        .cast("long")
        .alias("p99_days"),
    )


_FULFILL_SQL = """
WITH days AS (
    SELECT o_orderpriority AS priority,
           epoch_ms(l_shipdate) // 86400000
             - epoch_ms(o_orderdate) // 86400000 AS days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
r AS (
    SELECT priority, days,
           ROW_NUMBER() OVER (PARTITION BY priority ORDER BY days ASC) AS rn,
           COUNT(*) OVER (PARTITION BY priority) AS n
    FROM days
)
SELECT priority,
       CAST(MAX(n) AS BIGINT) AS n_lines,
       CAST(MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN days END) AS BIGINT)
           AS p50_days,
       CAST(MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN days END) AS BIGINT)
           AS p90_days,
       CAST(MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN days END) AS BIGINT)
           AS p99_days
FROM r GROUP BY 1
"""

QUERIES["orders_fulfillment_latency"] = orders_fulfillment_latency
ORACLES["orders_fulfillment_latency"] = _FULFILL_SQL


# ---------------------------------------------------------------------------
# HITS hubs/authorities over the directed supplier->customer trade graph.
# ---------------------------------------------------------------------------

_HITS_ITERATIONS = 2


def graph_hits_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS on the DIRECTED trade graph (supplier ships-to customer, one
    edge per distinct (l_suppkey, o_custkey) pair from lineitem ⋈
    orders): hub scores rank suppliers by how many strong customers they
    feed; authority scores rank customers by how many strong suppliers
    feed them.  PageRank on the symmetrized graph
    (graph_pagerank_trade) mixes the two roles into one score; HITS
    keeps the bipartite direction and scores each side against the
    other — the classic mutually-recursive centrality pair.

    Integer max-renormalized power iterations (operators/graph.py::hits
    — decimal(38) renorm product, floor-div back to int64 SCALE units);
    the oracle unrolls the identical arithmetic (hits_oracle_cte), so
    score_fp value-hashes exactly.  Iteration shape matches pagerank:
    src-partitioned cached edges, shuffle_hash score side, pinned
    generations."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    edges = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return gr.hits(edges, _HITS_ITERATIONS)


_HITS_EDGES_SQL = """
SELECT DISTINCT 'S' || l_suppkey AS src, 'C' || o_custkey AS dst
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""

_HITS_SQL = (
    "WITH "
    + gr.hits_oracle_cte(_HITS_EDGES_SQL, _HITS_ITERATIONS)
    + f"""
SELECT node, 'hub' AS role, score_fp FROM h{_HITS_ITERATIONS}
UNION ALL
SELECT node, 'authority' AS role, score_fp FROM a{_HITS_ITERATIONS}"""
)

QUERIES["graph_hits_trade"] = graph_hits_trade
ORACLES["graph_hits_trade"] = _HITS_SQL


def graph_ppr_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the symmetrized trade graph, teleporting
    to the 10 lowest-key suppliers that actually trade — "which customers
    and suppliers sit closest to this trusted seed set", the
    graph-proximity scorer behind seed-based curation and account-risk
    propagation (operators/graph.py::personalized_pagerank; same
    fixed-point arithmetic and iteration shape as graph_pagerank_trade,
    so the two rankings are directly comparable).  The oracle replays
    all 5 iterations including the floor-div teleport base."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    base = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
        )
        .distinct()
    )
    # one-pass symmetrization (explode, not union) — the union form ran
    # the fact-fact join + distinct once per direction (operators/graph
    # symmetrize_edges; guide §2.4)
    edges = gr.symmetrize_edges(base, "s", "c")
    seeds = (
        li.filter(F.col("l_suppkey") < 10)
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("node")
        )
        .distinct()
    )
    return gr.personalized_pagerank(edges, seeds, _PR_ITERATIONS)


_PPR_SEEDS_SQL = """
SELECT DISTINCT 'S' || l_suppkey AS node FROM lineitem WHERE l_suppkey < 10
"""

_PPR_SQL = (
    "WITH "
    + gr.ppr_oracle_cte(_PR_EDGES_SQL, _PPR_SEEDS_SQL, _PR_ITERATIONS)
    + f"\nSELECT node, rank_fp FROM r{_PR_ITERATIONS}"
)

QUERIES["graph_ppr_suppliers"] = graph_ppr_suppliers
ORACLES["graph_ppr_suppliers"] = _PPR_SQL


# ---------------------------------------------------------------------------
# Join cardinality estimation via coordinated key sampling — the
# cost-based-optimizer primitive.  At 100 TB a planner must know whether
# orders ⋈ lineitem produces 10^9 or 10^13 rows BEFORE picking a join
# strategy; running the join to find out is the failure mode.  The
# estimator is Vengerov et al.'s correlated sampling: both sides keep only
# keys whose md5 lands in a fixed 1/16 hash stratum (a COORDINATED sample —
# the same keys survive on both sides, so per-key frequency products are
# observed exactly, unlike independent Bernoulli row sampling which misses
# matches at rate p^2), and sum(ca*cb)*16 unbiasedly estimates the true
# join size.  The sampled aggregate is 1/16th of either input and the
# predicate pushes to the scan.  The exact join count rides along as the
# audit column (same pattern as the ANN recall audits: the estimate is
# the product, the exact leg is the evidence).
# ---------------------------------------------------------------------------

_JCE_MOD = 16  # 1/16 key stratum: keys with md5-hash % 16 == 0


def _jce_key(col: str):
    return F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    ) % _JCE_MOD == 0


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-sampling join-size estimate for orders ⋈ lineitem on
    orderkey (1/16 deterministic md5 key stratum, both sides), with the
    exact join cardinality and the integer-ppm error as audit columns.
    One output row: est_rows, exact_rows, sampled_keys, err_ppm."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    sa = (
        orders.filter(_jce_key("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    sb = (
        li.filter(_jce_key("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    est = sa.join(sb, sa.o_orderkey == sb.l_orderkey).agg(
        (F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0)) * _JCE_MOD)
        .cast("long")
        .alias("est_rows"),
        F.count(F.lit(1)).cast("long").alias("sampled_keys"),
    )
    exact = orders.join(li, orders.o_orderkey == li.l_orderkey).agg(
        F.count(F.lit(1)).cast("long").alias("exact_rows")
    )
    # 1-row x 1-row: the sanctioned broadcast totals join.
    return est.crossJoin(exact).select(
        "est_rows",
        "exact_rows",
        "sampled_keys",
        F.expr("abs(est_rows - exact_rows) * 1000000 div exact_rows")
        .cast("long")
        .alias("err_ppm"),
    )


_JCE_SQL = f"""
WITH sa AS (
    SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders
    WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % {_JCE_MOD} = 0
    GROUP BY 1
),
sb AS (
    SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem
    WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT % {_JCE_MOD} = 0
    GROUP BY 1
),
est AS (
    SELECT CAST(COALESCE(SUM(ca * cb), 0) * {_JCE_MOD} AS BIGINT) AS est_rows,
           CAST(COUNT(*) AS BIGINT) AS sampled_keys
    FROM sa JOIN sb ON sa.k = sb.k
),
ex AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS exact_rows
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT est_rows, exact_rows, sampled_keys,
       CAST(ABS(est_rows - exact_rows) * 1000000 // exact_rows AS BIGINT) AS err_ppm
FROM est, ex
"""

QUERIES["join_cardinality_estimate"] = join_cardinality_estimate
ORACLES["join_cardinality_estimate"] = _JCE_SQL


# ---------------------------------------------------------------------------
# Join-order advisor — the composition a cost-based optimizer actually
# runs: estimate the SELECTED join size of lineitem against each filtered
# dimension (orders at 1-URGENT, small parts, low-nation suppliers) with
# the same 1/16 correlated key stratum as join_cardinality_estimate, then
# rank the dimensions for a left-deep greedy order (smallest estimated
# intermediate first — the classic Selinger heuristic).  Each estimate is
# a 1/16th-scan equi-join; the ranking window reads a 3-ROW table.  At
# 100 TB this is the query an optimizer service answers before choosing
# a join tree, without running any of the candidate joins.
# ---------------------------------------------------------------------------

_JOA_DIMS = (
    # (dim name, dim table, dim join col, fact join col, dim predicate SQL)
    ("orders", "orders", "o_orderkey", "l_orderkey", "o_orderpriority = '1-URGENT'"),
    ("part", "part", "p_partkey", "l_partkey", "p_size < 10"),
    ("supplier", "supplier", "s_suppkey", "l_suppkey", "s_nationkey < 5"),
)


def join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy join-order ranking from correlated-sampling estimates of
    |lineitem ⋈ σ(dim)| for the three filtered FK dimensions.  Output:
    dim, est_rows, join_rank (1 = join first)."""
    li = _t(spark, sf_dir, "lineitem")
    ests = None
    for dim, table, dkey, fkey, pred in _JOA_DIMS:
        d = (
            _t(spark, sf_dir, table)
            .filter(F.expr(pred))
            .filter(_jce_key(dkey))
            .groupBy(dkey)
            .agg(F.count(F.lit(1)).alias("cd"))
        )
        f = (
            li.select(fkey)
            .filter(_jce_key(fkey))
            .groupBy(fkey)
            .agg(F.count(F.lit(1)).alias("cf"))
        )
        e = (
            f.join(d, f[fkey] == d[dkey])
            .agg(
                (F.coalesce(F.sum(F.col("cf") * F.col("cd")), F.lit(0)) * _JCE_MOD)
                .cast("long")
                .alias("est_rows")
            )
            .select(F.lit(dim).alias("dim"), "est_rows")
        )
        ests = e if ests is None else ests.unionByName(e)
    from pyspark.sql import Window

    # rank window over the 3-row estimate table (bounded by construction)
    w = Window.orderBy(F.col("est_rows").asc(), F.col("dim").asc())
    return ests.withColumn("join_rank", F.row_number().over(w).cast("int"))


def _joa_sql() -> str:
    legs = []
    for dim, table, dkey, fkey, pred in _JOA_DIMS:
        legs.append(
            f"""
    SELECT '{dim}' AS dim,
           CAST(COALESCE(SUM(cf * cd), 0) * {_JCE_MOD} AS BIGINT) AS est_rows
    FROM (
        SELECT {fkey} AS k, COUNT(*) AS cf FROM lineitem
        WHERE ('0x' || substr(md5(CAST({fkey} AS VARCHAR)), 1, 15))::BIGINT % {_JCE_MOD} = 0
        GROUP BY 1
    ) f
    JOIN (
        SELECT {dkey} AS k, COUNT(*) AS cd FROM {table}
        WHERE {pred}
          AND ('0x' || substr(md5(CAST({dkey} AS VARCHAR)), 1, 15))::BIGINT % {_JCE_MOD} = 0
        GROUP BY 1
    ) d ON f.k = d.k"""
        )
    union = "\n    UNION ALL\n".join(legs)
    return f"""
WITH ests AS ({union}
)
SELECT dim, est_rows,
       CAST(ROW_NUMBER() OVER (ORDER BY est_rows ASC, dim ASC) AS INT) AS join_rank
FROM ests
"""


QUERIES["join_order_advisor"] = join_order_advisor
ORACLES["join_order_advisor"] = _joa_sql()


# ---------------------------------------------------------------------------
# Partial-aggregation reduction advisor — decides whether map-side
# combine pays.  Spark's hash-partial aggregate only helps when rows
# collapse into few keys BEFORE the shuffle; at 100 TB a groupBy on a
# near-unique key (user_id on a clickstream) wastes memory and CPU on a
# partial that reduces nothing (the regression Spark's own
# spark.sql.aggregate.partialAggregationOptimization targets).  The
# advisor measures, per candidate grouping key, the corpus-wide
# rows-per-distinct-key ratio and flags keys whose partial reduction
# would fall below 2x.  Distinct counts are exact two-stage aggregations
# (shuffle keyed on the candidate itself), rows is one shared count —
# output is one bounded row per candidate.
# ---------------------------------------------------------------------------

_ARA_CANDIDATES = (
    # (candidate name, grouping expression over events)
    ("event_type", "event_type"),
    ("user_id", "CAST(user_id AS STRING)"),
    ("user_type", "CAST(user_id AS STRING) || ':' || event_type"),
    ("minute", "CAST(epoch_min_expr AS STRING)"),
)


def agg_reduction_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per candidate grouping key over events: distinct keys, total rows,
    reduction factor (rows-per-key, in ppm) and the partial-agg verdict
    (keep map-side combine iff reduction >= 2x).  Output: candidate,
    n_keys, n_rows, reduction_ppm, partial_agg_pays."""
    ev = _t(spark, sf_dir, "events")
    out = None
    for name, expr in _ARA_CANDIDATES:
        sexpr = expr.replace(
            "epoch_min_expr", "(unix_millis(cast(ts as timestamp)) div 60000)"
        )
        leg = (
            ev.select(F.expr(sexpr).alias("k"))
            .agg(
                F.countDistinct("k").cast("long").alias("n_keys"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
            )
            .select(
                F.lit(name).alias("candidate"),
                "n_keys",
                "n_rows",
                F.expr("n_rows * 1000000 div n_keys").cast("long").alias(
                    "reduction_ppm"
                ),
                F.expr("n_rows * 1000000 div n_keys >= 2000000").alias(
                    "partial_agg_pays"
                ),
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def _ara_sql() -> str:
    legs = []
    for name, expr in _ARA_CANDIDATES:
        dexpr = expr.replace("epoch_min_expr", "(epoch_ms(ts) // 60000)")
        legs.append(
            f"""
    SELECT '{name}' AS candidate,
           CAST(COUNT(DISTINCT {dexpr}) AS BIGINT) AS n_keys,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) * 1000000 // COUNT(DISTINCT {dexpr}) AS BIGINT)
               AS reduction_ppm,
           COUNT(*) * 1000000 // COUNT(DISTINCT {dexpr}) >= 2000000
               AS partial_agg_pays
    FROM events"""
        )
    return "\n    UNION ALL\n".join(legs)


QUERIES["agg_reduction_advisor"] = agg_reduction_advisor
ORACLES["agg_reduction_advisor"] = _ara_sql()


# ---------------------------------------------------------------------------
# Table statistics collection — the ANALYZE TABLE pass that feeds every
# cost-based decision above (join_cardinality_estimate samples, the
# join-order and partial-agg advisors, broadcast-threshold checks).  One
# scan of lineitem computes, per column of interest: exact NDV, null
# count, and integer min/max — the stats a catalog persists and a 100 TB
# planner reads instead of the data.  All legs are two-stage aggregations
# over the SAME single scan (one wide agg row, unpivoted to one row per
# column); values are normalized to BIGINT (floats in cents) so the
# stats row is hash-comparable across engines.
# ---------------------------------------------------------------------------

_CTS_COLS = (
    # (column, Spark value expr, DuckDB value expr) — integer-normalized
    ("l_orderkey", "l_orderkey", "l_orderkey"),
    ("l_partkey", "l_partkey", "l_partkey"),
    ("l_suppkey", "l_suppkey", "l_suppkey"),
    ("l_quantity", "cast(round(l_quantity * 100, 0) as bigint)",
     "CAST(round(l_quantity * 100, 0) AS BIGINT)"),
    ("l_extendedprice", "cast(round(l_extendedprice * 100, 0) as bigint)",
     "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"),
    ("l_shipdate", "unix_millis(cast(l_shipdate as timestamp))",
     "epoch_ms(l_shipdate)"),
)


def collect_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics for lineitem in ONE scan: per
    column, exact NDV / null count / integer min / integer max (floats
    in cents, dates in epoch millis).  Output: column, ndv, n_nulls,
    min_v, max_v."""
    from ..operators.fanout import fan_out

    # multi-distinct aggregates plan an Expand of ~17 projections per input
    # row — heavy map work that must not run on the single partition a
    # one-file parquet scan yields (measured 3.5 s -> 2.1 s at sf0.1)
    li = fan_out(_t(spark, sf_dir, "lineitem"))
    aggs = []
    for name, sexpr, _ in _CTS_COLS:
        aggs += [
            F.expr(f"count(distinct {sexpr})").alias(f"ndv_{name}"),
            F.expr(f"count_if({sexpr} is null)").alias(f"nn_{name}"),
            F.expr(f"min({sexpr})").alias(f"mn_{name}"),
            F.expr(f"max({sexpr})").alias(f"mx_{name}"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{name}', ndv_{name}, nn_{name}, mn_{name}, mx_{name}"
        for name, _, _ in _CTS_COLS
    )
    return wide.selectExpr(
        f"stack({len(_CTS_COLS)}, {stack}) AS (column, ndv, n_nulls, min_v, max_v)"
    ).selectExpr(
        "column",
        "cast(ndv as bigint) AS ndv",
        "cast(n_nulls as bigint) AS n_nulls",
        "cast(min_v as bigint) AS min_v",
        "cast(max_v as bigint) AS max_v",
    )


def _cts_sql() -> str:
    legs = []
    for name, _, dexpr in _CTS_COLS:
        legs.append(
            f"""
    SELECT '{name}' AS "column",
           CAST(COUNT(DISTINCT {dexpr}) AS BIGINT) AS ndv,
           CAST(COUNT(*) FILTER (WHERE {dexpr} IS NULL) AS BIGINT) AS n_nulls,
           CAST(MIN({dexpr}) AS BIGINT) AS min_v,
           CAST(MAX({dexpr}) AS BIGINT) AS max_v
    FROM lineitem"""
        )
    return "\n    UNION ALL\n".join(legs)


QUERIES["collect_table_stats"] = collect_table_stats
ORACLES["collect_table_stats"] = _cts_sql()


# ---------------------------------------------------------------------------
# GDPR erasure-propagation audit — the governance query every warehouse
# runs before executing a right-to-be-forgotten batch: given a cohort of
# subjects (here: a deterministic 1/32 md5 stratum of customers, the
# shape of a real erasure queue), count the rows each table would lose,
# following the FK graph (customer -> orders -> lineitem; customer ->
# events via user_id).  Each leg is an equi-join against the broadcast-
# small cohort; every FACT table (lineitem, events) scans exactly once —
# the per-leg re-derivation re-scans only the pruned customer/orders key
# columns, the cheap side.  At 100 TB this is the blast-radius
# report a DPO signs off on — and the row counts become the delete-job
# progress denominators.
# ---------------------------------------------------------------------------

_GDPR_MOD = 32  # erasure cohort: customers with md5(custkey) % 32 == 0


def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast-radius counts for erasing a 1/32 customer cohort: rows to
    delete per table plus the distinct subjects touching that table.
    Output: table_name, n_rows, n_subjects."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    cohort = cust.filter(
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _GDPR_MOD
        == 0
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    ev = _t(spark, sf_dir, "events").select("user_id")

    cohort_orders = orders.join(cohort, orders.o_custkey == cohort.c_custkey)
    legs = [
        cohort.agg(
            F.lit("customer").alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("c_custkey").cast("long").alias("n_subjects"),
        ),
        cohort_orders.agg(
            F.lit("orders").alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("o_custkey").cast("long").alias("n_subjects"),
        ),
        li.join(
            cohort_orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        ).agg(
            F.lit("lineitem").alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("o_custkey").cast("long").alias("n_subjects"),
        ),
        ev.join(cohort, ev.user_id == cohort.c_custkey).agg(
            F.lit("events").alias("table_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("user_id").cast("long").alias("n_subjects"),
        ),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _gdpr_sql() -> str:
    stratum = (
        f"('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT"
        f" % {_GDPR_MOD} = 0"
    )
    return f"""
WITH cohort AS (SELECT c_custkey FROM customer WHERE {stratum}),
co AS (
    SELECT o_orderkey, o_custkey FROM orders JOIN cohort ON o_custkey = c_custkey
)
SELECT 'customer' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_subjects FROM cohort
UNION ALL
SELECT 'orders', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM co
UNION ALL
SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
FROM lineitem JOIN co ON l_orderkey = o_orderkey
UNION ALL
SELECT 'events', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT user_id) AS BIGINT)
FROM events JOIN cohort ON user_id = c_custkey
"""


QUERIES["gdpr_erasure_audit"] = gdpr_erasure_audit
ORACLES["gdpr_erasure_audit"] = _gdpr_sql()


# ---------------------------------------------------------------------------
# Broadcast-plan advisor — the decision collect_table_stats feeds: for
# every dimension table, estimate its IN-MEMORY relation size with the
# planner's row model (8 bytes per fixed-width column, 4 + length per
# string) and compare against the autoBroadcastJoinThreshold (10 MiB).
# One 1-row aggregate per table, 6-row output: the advisor a 100 TB
# planner consults instead of sizing relations by scanning them at join
# time — and the reason a dimension that broadcasts at sf0.01 may
# correctly STOP broadcasting at sf10 (the verdict is data-driven, which
# the three-SF oracle checks exercise).
# ---------------------------------------------------------------------------

_BPA_THRESHOLD = 10 * 1024 * 1024  # Spark's default autoBroadcastJoinThreshold

_BPA_TABLES = (
    # (table, fixed-width column count, string columns)
    ("region", 1, ("r_name",)),
    ("nation", 2, ("n_name",)),
    ("customer", 3, ("c_name", "c_mktsegment")),
    ("supplier", 3, ("s_name",)),
    ("part", 3, ("p_name", "p_brand", "p_type")),
    ("orders", 3, ("o_orderstatus", "o_orderpriority")),
)


def broadcast_plan_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per dimension table: row count, modeled in-memory bytes (8/fixed
    column, 4+len/string), and the broadcast verdict at the 10 MiB
    default threshold.  Output: table_name, n_rows, est_bytes,
    broadcastable."""
    out = None
    for table, n_fixed, str_cols in _BPA_TABLES:
        width = " + ".join(
            [str(8 * n_fixed)] + [f"4 + length({c})" for c in str_cols]
        )
        leg = (
            _t(spark, sf_dir, table)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.expr(f"sum({width})").cast("long").alias("est_bytes"),
            )
            .select(
                F.lit(table).alias("table_name"),
                "n_rows",
                "est_bytes",
                (F.col("est_bytes") <= F.lit(_BPA_THRESHOLD)).alias("broadcastable"),
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def _bpa_sql() -> str:
    legs = []
    for table, n_fixed, str_cols in _BPA_TABLES:
        width = " + ".join(
            [str(8 * n_fixed)] + [f"4 + length({c})" for c in str_cols]
        )
        legs.append(
            f"""
    SELECT '{table}' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({width}) AS BIGINT) AS est_bytes,
           CAST(SUM({width}) AS BIGINT) <= {_BPA_THRESHOLD} AS broadcastable
    FROM {table}"""
        )
    return "\n    UNION ALL\n".join(legs)


QUERIES["broadcast_plan_advisor"] = broadcast_plan_advisor
ORACLES["broadcast_plan_advisor"] = _bpa_sql()


# ---------------------------------------------------------------------------
# Mergeable statistics rollup — the incremental-ANALYZE claim, exercised
# in the CHECKED path (the stats sibling of sketch_hll_merge_rollup): a
# 100 TB catalog never recomputes table stats from scratch; each
# ingestion shard publishes partial stats and the catalog folds them.
# min/max/null-count fold exactly (min of mins, max of maxes, sum of
# nulls); exact NDV does NOT fold, which is precisely why the catalog
# stores an HLL register table per shard — register max is associative,
# so the merged sketch is BIT-IDENTICAL to the sketch built directly
# over the union.  This query computes every measure along BOTH paths
# (merged-from-shards vs direct-over-everything) for two lineitem
# columns, split into two deterministic md5 ingestion shards; the
# value-hash oracle replays both paths, so path equality is checked at
# every SF, not asserted.
# ---------------------------------------------------------------------------

_SMR_SHARD = (
    "('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT % 2"
)
_SMR_COLS = (
    ("l_partkey", "l_partkey", "l_partkey"),
    (
        "l_quantity",
        "cast(round(l_quantity * 100, 0) as bigint)",
        "CAST(round(l_quantity * 100, 0) AS BIGINT)",
    ),
)


def stats_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (column, path∈{merged,direct}): HLL NDV estimate, min, max,
    null count — 'merged' folds two md5 ingestion shards' partials,
    'direct' computes over the union.  Register-max associativity and
    the exact min/max/null folds make the paths equal; the oracle checks
    it rather than trusting it."""
    import test_flink_spark.operators.sketch as sk

    li = _t(spark, sf_dir, "lineitem")
    shard = (
        F.conv(F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 2
    )
    # ONE lineitem scan for all 8 columns x 2 paths (r13, guide §2.4):
    # the per-column loop previously planned 16 column-pruned scans of
    # the fact table.  At sf0.1 the pages are OS-cached and the forms
    # tie (interleaved A/B: one-scan 2.77-4.21 s vs multi-scan
    # 2.94-8.27 s); at sf1 the one-scan form wins 8.03 -> 6.53 s
    # (min-of-3, the r12-rejection retry the verdict asked for), and at
    # 100 TB it is 1 fact-table read instead of 16.  persist(), not a
    # pin: lineage survives, so the returned plan stays valid after the
    # caller's scope drops it (docs/DESIGN_DECISIONS.md, "Pin ownership").
    proj = persist(
        li.select(
            shard.alias("shard"),
            *[F.expr(sexpr).alias(f"c_{i}") for i, (_, sexpr, _) in enumerate(_SMR_COLS)],
        )
    )
    out = None
    for i, (name, _, _) in enumerate(_SMR_COLS):
        vals = proj.select("shard", F.col(f"c_{i}").alias("v"))
        sharded_regs = sk.hll_registers(vals, "v", ["shard"], salt=name)
        legs = {
            "merged": (
                sharded_regs.groupBy("reg").agg(F.max("m_rank").alias("m_rank")),
                # fold exact partials per shard, then fold the partials
                vals.groupBy("shard")
                .agg(
                    F.min("v").alias("mn"),
                    F.max("v").alias("mx"),
                    F.expr("count_if(v is null)").alias("nn"),
                )
                .agg(
                    F.min("mn").alias("min_v"),
                    F.max("mx").alias("max_v"),
                    F.sum("nn").alias("n_nulls"),
                ),
            ),
            "direct": (
                vals.select(sk.hll_register_rank(F.col("v"), name)[0].alias("reg"),
                            sk.hll_register_rank(F.col("v"), name)[1].alias("rank"))
                .groupBy("reg")
                .agg(F.max("rank").alias("m_rank")),
                vals.agg(
                    F.min("v").alias("min_v"),
                    F.max("v").alias("max_v"),
                    F.expr("count_if(v is null)").alias("n_nulls"),
                ),
            ),
        }
        for path, (regs, mm) in legs.items():
            ndv = sk.hll_fold_registers(regs.withColumn("g", F.lit(1)), ["g"]).select(
                F.col("hll_est").alias("ndv_est")
            )
            leg = ndv.crossJoin(mm).select(
                F.lit(name).alias("column"),
                F.lit(path).alias("path"),
                F.col("ndv_est").cast("long"),
                F.col("min_v").cast("long"),
                F.col("max_v").cast("long"),
                F.col("n_nulls").cast("long"),
            )
            out = leg if out is None else out.unionByName(leg)
    return out


def _smr_sql() -> str:
    import test_flink_spark.operators.sketch as sk

    legs = []
    for name, _, dexpr in _SMR_COLS:
        sub = f"(SELECT {_SMR_SHARD} AS shard, {dexpr} AS v FROM lineitem)"
        merged_ndv = sk.hll_merge_oracle_sql(sub, "v", "shard", "-1", salt=name)
        direct_ndv = sk.hll_oracle_sql(
            f"(SELECT 1 AS g, v FROM {sub} t0)", "v", ["g"], salt=name
        )
        legs.append(
            f"""
    SELECT '{name}' AS "column", 'merged' AS path,
           (SELECT hll_est FROM ({merged_ndv}) WHERE shard = '-1') AS ndv_est,
           (SELECT CAST(MIN(mn) AS BIGINT) FROM
              (SELECT shard, MIN(v) AS mn FROM {sub} s GROUP BY shard)) AS min_v,
           (SELECT CAST(MAX(mx) AS BIGINT) FROM
              (SELECT shard, MAX(v) AS mx FROM {sub} s GROUP BY shard)) AS max_v,
           (SELECT CAST(SUM(nn) AS BIGINT) FROM
              (SELECT shard, COUNT(*) FILTER (WHERE v IS NULL) AS nn
               FROM {sub} s GROUP BY shard)) AS n_nulls
    UNION ALL
    SELECT '{name}', 'direct',
           (SELECT hll_est FROM ({direct_ndv})),
           (SELECT CAST(MIN(v) AS BIGINT) FROM {sub} s),
           (SELECT CAST(MAX(v) AS BIGINT) FROM {sub} s),
           (SELECT CAST(COUNT(*) FILTER (WHERE v IS NULL) AS BIGINT) FROM {sub} s)"""
        )
    return "\n    UNION ALL\n".join(legs)


QUERIES["stats_merge_rollup"] = stats_merge_rollup
ORACLES["stats_merge_rollup"] = _smr_sql()


# ---------------------------------------------------------------------------
# Shuffle-partition advisor — the last knob the advisor suite leaves
# unset: ``spark.sql.shuffle.partitions`` and the salting factor for the
# hottest key.  For a planned per-user aggregation over events, the
# shuffle input is modeled from data (rows x the same width model as
# broadcast_plan_advisor: 8/fixed col + 4+len per string); recommended
# partitions = ceil(bytes / 64 MiB target), floored at 32 (one per
# core); the hottest user's row share then determines whether one key
# overflows a partition — salt factor = ceil(hot_rows / avg rows per
# recommended partition), 1 meaning "no salting needed".  Every input is
# a bounded aggregate (1-row totals + a 1-row max over the per-key
# count), integer arithmetic throughout — the sizing a 100 TB job does
# from last night's stats instead of OOMing at runtime.
# ---------------------------------------------------------------------------

_SPA_TARGET_BYTES = 64 * 1024 * 1024
_SPA_MIN_PARTS = 32


def shuffle_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sizing report for a per-user shuffle over events: modeled input
    bytes, recommended partition count (64 MiB target, >= 32), hottest-
    key rows, and the salt factor that bounds the hot key to one
    partition's share.  One output row."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "40 + (4 + length(event_type)) + (4 + coalesce(length(props), 0))"
        ).alias("row_bytes"),
    )
    totals = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("row_bytes").cast("long").alias("total_bytes"),
    )
    hot = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").cast("long").alias("hot_key_rows"))
    )
    # 1-row x 1-row broadcast totals join (sanctioned shape)
    return totals.crossJoin(hot).selectExpr(
        "n_rows",
        "total_bytes",
        f"greatest(cast((total_bytes + {_SPA_TARGET_BYTES} - 1) div {_SPA_TARGET_BYTES} as bigint), {_SPA_MIN_PARTS}) AS rec_partitions",
        "hot_key_rows",
        f"""cast(
            (hot_key_rows *
             greatest(cast((total_bytes + {_SPA_TARGET_BYTES} - 1) div {_SPA_TARGET_BYTES} as bigint), {_SPA_MIN_PARTS})
             + n_rows - 1) div n_rows
            as bigint) AS salt_factor""",
    )


_SPA_SQL = f"""
WITH ev AS (
    SELECT user_id,
           40 + (4 + length(event_type)) + (4 + COALESCE(length(props), 0))
               AS row_bytes
    FROM events
),
totals AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(row_bytes) AS BIGINT) AS total_bytes
    FROM ev
),
hot AS (
    SELECT CAST(MAX(c) AS BIGINT) AS hot_key_rows
    FROM (SELECT COUNT(*) AS c FROM ev GROUP BY user_id)
)
SELECT n_rows, total_bytes,
       GREATEST(CAST((total_bytes + {_SPA_TARGET_BYTES} - 1) // {_SPA_TARGET_BYTES} AS BIGINT),
                {_SPA_MIN_PARTS}) AS rec_partitions,
       hot_key_rows,
       CAST((hot_key_rows *
             GREATEST(CAST((total_bytes + {_SPA_TARGET_BYTES} - 1) // {_SPA_TARGET_BYTES} AS BIGINT),
                      {_SPA_MIN_PARTS})
             + n_rows - 1) // n_rows AS BIGINT) AS salt_factor
FROM totals, hot
"""

QUERIES["shuffle_partition_advisor"] = shuffle_partition_advisor
ORACLES["shuffle_partition_advisor"] = _SPA_SQL
