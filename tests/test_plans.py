"""Physical-plan quality gates (the 100 TB discipline): filters reach the
parquet scan, projections prune columns, small dims broadcast, hot paths
stay in whole-stage codegen.  These assert on explain() output so a
regression in plan shape fails CI, not just the benchmark."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from test_flink_spark.schemas import load_table

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_to_parquet(spark):
    li = load_table(spark, SF, "lineitem")
    df = li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("2000-09-02"))).select(
        "l_returnflag"
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    li = load_table(spark, SF, "lineitem")
    df = li.groupBy("l_returnflag").count()
    plan = _plan(df)
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "l_returnflag" in m.group(1)
    # a 1-column aggregate must not scan the other 10 columns
    assert "l_extendedprice" not in m.group(1)


def test_dimension_join_broadcasts(spark):
    from test_flink_spark.plans.relational import broadcast_join_parts

    plan = _plan(broadcast_join_parts(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aggregation_partial_before_exchange(spark):
    # the add/merge algebra of the reference's CountAgg must appear as
    # map-side partial aggregation BEFORE the shuffle (A1, SURVEY.md §2.5);
    # with AQE on, codegen annotations only materialize at runtime, so the
    # static plan is asserted on partial_count + Exchange ordering
    ev = load_table(spark, SF, "events")
    df = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    plan = _plan(df)
    assert "partial_count" in plan and "Exchange" in plan
    # formatted explain prints the operator chain top-down ending at the
    # scan, so the map-side partial aggregate (which FEEDS the shuffle)
    # must print AFTER the Exchange node it feeds — no escape hatch
    assert plan.index("partial_count") > plan.index("Exchange")
    # single-column agg scans exactly one column
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and m.group(1) == "struct<event_type:string>"


def test_semi_join_stays_semi(spark):
    from test_flink_spark.plans.relational import semi_join_big_lineitems

    plan = _plan(semi_join_big_lineitems(spark, SF))
    assert "LeftSemi" in plan  # not rewritten into a full join + distinct


def test_near_dup_registered_plan_has_no_cross_join(spark):
    """The registered embedding_near_dup queries must not contain a
    Cartesian/nested-loop product — the brute-force form is test-only."""
    from test_flink_spark.plans.llm_data import embedding_near_dup, embedding_near_dup_lsh

    for q in (embedding_near_dup, embedding_near_dup_lsh):
        plan = _plan(q(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_json_props_aggregate_prunes_scan(spark):
    from test_flink_spark.plans.relational import json_props_aggregate

    plan = _plan(json_props_aggregate(spark, SF))
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and m.group(1) == "struct<event_type:string,props:string>"


def _has_global_window(plan: str) -> bool:
    """True when the plan funnels rows through an ``Exchange
    SinglePartition`` to feed a ``Window`` — the one-reducer global-sort
    shape that cannot survive unbounded input.  Co-occurrence is the
    detector: in this fleet the only producer of a SinglePartition
    exchange alongside a Window node IS an empty-partitionBy window.
    (explain("formatted") splits node names from arguments, so the
    exchange's distribution appears on its own `Arguments: SinglePartition`
    line, not inline.)"""
    return "SinglePartition" in plan and re.search(r"\bWindow\b", plan) is not None


def test_global_window_detector_canary(spark):
    """The detector must trip on a deliberately global running-sum window
    (and stay quiet on the same window once partitioned)."""
    from pyspark.sql import Window, functions as F

    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    bad = df.select(F.sum("v").over(Window.orderBy("v")).alias("s"))
    good = df.select(
        F.sum("v").over(Window.partitionBy("k").orderBy("v")).alias("s")
    )
    assert _has_global_window(_plan(bad))
    assert not _has_global_window(_plan(good))


def test_every_registered_query_plan_is_scale_clean(spark):
    """Fleet-wide plan hygiene: NO registered query may contain a Cartesian
    product, a broadcast nested-loop join, a row-at-a-time Python UDF
    (BatchEvalPython), or a window over a single-partition exchange of
    unbounded input.  Arrow-batched stages (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas) are the sanctioned Python crossings.  This is the
    CI form of the 100 TB design rules — a new query that sneaks in an
    accidental cross join or global sort fails here, not at the benchmark."""
    import __spark_entry__ as entry

    # BroadcastNestedLoopJoin is sanctioned ONLY where the nested side is
    # deliberately tiny and broadcast: the uncorrelated scalar subquery in
    # Q22 (one row) and the exact brute-force top-k family (the broadcast
    # query set against a single corpus scan — the documented baseline).
    bnlj_allowed = {
        "q22_idle_customers",
        # 4-row funnel running-sum inequality self-join + 1-row corpus
        # total — both broadcast tiny-aggregate shapes (the alternative
        # was a single-partition global window).
        "corpus_dedup_cascade_audit",
        "q11_important_stock",  # 1-row global-total scalar join, same shape as q22
        "skew_key_report",  # 1-row (total_rows, n_keys) scalar join, same shape
        # 1-row n_total broadcast into the k-row (<=8) per-list table —
        # the same broadcast-1-row scalar shape as skew_key_report
        "embedding_ivf_balance_audit",
        # 1-row n_orders totals broadcast into the <=600-row rule table —
        # the same broadcast-1-row scalar shape as skew_key_report.
        "orders_basket_rules",
        "embedding_cosine_topk",
        "knn_label_vote",
        # RRF fusion composes embedding_cosine_topk as its dense component —
        # the inherited BNLJ is that same sanctioned broadcast-query-set
        # baseline; the fusion stage itself is an equi-key full-outer join
        # over two already-tiny top-k tables.
        "embedding_hybrid_rrf",
        # recall@k composes the exact baseline (cosine_topk) BY DESIGN —
        # it exists to measure the LSH path against it; same inherited
        # broadcast-query-panel BNLJ.
        "embedding_ann_recall",
        # matryoshka overlap runs cosine_topk twice (full-dim and
        # truncated-dim legs) over the same 20-query broadcast panel —
        # both BNLJs are that same sanctioned baseline shape.
        "embedding_matryoshka_overlap",
        # bitq recall: hamming leg scans the corpus against the SAME
        # fixed 20-row broadcast query panel (2 BIGINTs per row), and the
        # exact leg composes cosine_topk by design (the recall baseline).
        "embedding_bitq_hamming_recall",
        # nDCG audit: the graded-relevance leg IS the exact cosine top-5
        # baseline (cosine_topk) — same sanctioned panel BNLJ; the ANN
        # leg under audit is the bucketed LSH path (no BNLJ).
        "retrieval_ndcg_audit",
        # sampled-train recall audit: the truth leg is the exact
        # integer-L2 top-5 over the SAME fixed 20-row broadcast query
        # panel (cosine_topk precedent); both IVF-PQ legs under audit
        # probe via equi-joins (no BNLJ).
        "embedding_ivfpq_sampled_train",
        # filtered-ANN recall audit: same sanctioned 20-row panel BNLJ
        # for the exact same-label truth leg; both filtered IVF legs
        # are bucketed equi-joins.
        "embedding_filtered_ann_recall",
        # CUPED: the 1-row pooled-moments aggregate broadcast into the
        # 2-row per-variant table — broadcast-1-row scalar shape
        # (skew_key_report precedent); the per-user day split likewise
        # joins a 1-row min/max-day bounds aggregate.
        "events_cuped_adjustment",
        # 1-row estimate x 1-row exact-count audit join — the broadcast
        # totals shape (skew_key_report precedent); the estimator itself
        # is a 1/16-stratum equi-join.
        "join_cardinality_estimate",
        # per-(column, path) legs join a 1-row HLL fold to a 1-row
        # min/max/nulls aggregate — the broadcast-1-row totals shape,
        # four times over (one per leg).
        "stats_merge_rollup",
        # 1-row totals x 1-row hottest-key aggregate — broadcast totals
        # shape (skew_key_report precedent).
        "shuffle_partition_advisor",
    }
    # A global window is sanctioned ONLY over provably-bounded input:
    # corpus_mix_report's token_share window reads post-aggregation rows
    # (~|sources × langs|), not the corpus.
    # (corpus_temperature_mix's bounded global window lives in its driver-
    # side thresholds job, not the registered plan, so no allowance needed.)
    global_window_allowed = {
        "corpus_mix_report",
        # co-occurrence false positive (r13): every window is partitioned
        # (by query_id); the SinglePartition exchanges are the 1-ROW
        # finals of Catalyst's own runtime bloom_filter_agg builds
        # (SPARK-32268), injected once the exact5/inverted-file legs
        # became checkpointed ≤O(corpus)-row relations with known stats —
        # a bounded filter build fed by map-side partials, the global
        # count() shape, and a scale WIN (it pre-filters the probe join)
        "embedding_filtered_ann_recall",
        # false positive of the co-occurrence detector: the Window IS
        # partitioned (by spark_partition_id — the distributed prefix
        # sum, operators/prefix.py) and the SinglePartition exchange is
        # the 1-ROW final aggregate fed by map-side partials — the same
        # shape as any global count(); nothing unbounded crosses one
        # reducer
        "events_user_gini",
        # events_frequent_paths' rank window reads the PATH AGGREGATE
        # (<= |event types|^3 = 125 rows), never the event stream
        "events_frequent_paths",
        # two-phase skyline: the phase-2 global window reads only the
        # UNION OF LOCAL SKYLINES (expected O(partitions * log n); ~60
        # rows here vs 20k parts), never the part table — the textbook
        # distributed-skyline plan (see parts_price_size_skyline).
        "parts_price_size_skyline",
        # same co-occurrence false positive as events_user_gini: both
        # row_number windows ARE partitioned (by user_id) and the
        # SinglePartition exchange is the 1-ROW final of the summary
        # aggregate, fed by map-side partials — a global count() shape.
        "cdc_merge_apply",
        # Kaplan-Meier staircase: the cumulative windows read the PER-
        # DEATH-HOUR AGGREGATE (<= |hours in corpus span| rows), never
        # the event stream — bounded-aggregate family, corpus_mix_report
        # precedent.
        "events_kaplan_meier_retention",
        # same prefix-sum false positive as events_user_gini: the CDF
        # windows ARE partitioned (by spark_partition_id — the
        # distributed prefix op) and the SinglePartition exchange is the
        # 1-ROW KS max aggregate fed by map-side partials.
        "events_ks_drift_test",
        # adaptive edge-strength cut: the cum-sum window reads the VALUE
        # HISTOGRAM of n_co (<= |distinct support values| <= |k-NN edges|
        # = O(catalog * k)), never the event stream — bounded-aggregate
        # family, corpus_mix_report precedent.
        "graph_components_knn",
        # TextRank: the kw_rank window reads the PAGERANK RESULT over the
        # word graph (<= |vocab| rows; 31 here), never the corpus —
        # bounded-aggregate family.
        "text_textrank_keywords",
        # curriculum deciles: the cumulative/total windows read the
        # INTEGER SCORE HISTOGRAM (<= 10001 rows by construction: score
        # is basis points), never the corpus — the per-doc rank is a
        # per-score-partitioned row_number + histogram join.  Value-
        # histogram family, graph_components_knn precedent.
        "corpus_curriculum_order",
        # join-order ranking: the row_number window reads the 3-ROW
        # estimate table (one row per candidate dimension), never a
        # scaling relation — bounded-aggregate family.
        "join_order_advisor",
        # processing-time arrival sequence: the prefix-offset window
        # reads the MINUTE-COUNT HISTOGRAM (<= |minutes in corpus span|
        # rows), never the event stream; the per-event rank is
        # partitioned by minute bucket.  Value-histogram family,
        # curriculum_order precedent.
        "events_processing_time_tumbling",
    }
    forbidden = ("CartesianProduct", "BatchEvalPython")
    offenders = {}
    for name, fn in entry.queries().items():
        plan = _plan(fn(spark, SF))
        hits = [marker for marker in forbidden if marker in plan]
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_allowed:
            hits.append("BroadcastNestedLoopJoin")
        if _has_global_window(plan) and name not in global_window_allowed:
            hits.append("GlobalWindow(Exchange SinglePartition)")
        if hits:
            offenders[name] = hits
    assert not offenders, f"scale-unclean plans: {offenders}"


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling is ON fleet-wide (session.py) and actually
    fires: a join where one key owns ~95% of rows must be split into
    multiple tasks by AQE (isSkew=true in the final adaptive plan) once
    the skewed partition crosses the configured thresholds.  This is the
    JOIN half of the skew story; aggregation skew needs the explicit salt
    (operators/skew.py), which AQE does not cover."""
    from pyspark.sql import functions as F

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        big = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pad"),
        )
        small = spark.range(5_000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        # keep pad flowing through the join: skew detection reads the
        # COMPRESSED shuffle-block sizes, and a pruned constant-key-only
        # row compresses below any threshold
        joined = big.join(small, on="k").select(
            F.sum(F.length("pad")).alias("bytes")
        )
        # run THIS DataFrame's QueryExecution to finalize its adaptive plan
        # (a .write would execute a fresh QueryExecution and leave this one
        # isFinalPlan=false)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in plan or "skew=true" in plan, (
            f"AQE did not mark the skewed partition:\n{plan[:2000]}"
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Broadcast-size hygiene (r4 verdict item 8): no F.broadcast hint may wrap a
# relation whose cardinality GROWS with input scale.  A hint on a
# per-document / per-user / per-part table works at bench scale and kills
# the driver at 100 TB (the sparse_cosine_topk norms bug, fixed r5) — and
# Catalyst's size-based selection broadcasts small relations anyway, so a
# hard hint on a scaling relation buys nothing locally and costs everything
# at scale.  Detection is EMPIRICAL: build each registered query at two SFs
# with a spy on pyspark.sql.functions.broadcast and count every hinted
# relation at both scales; bounded relations (dims, scalar aggregates,
# vocab / sketch / top-k tables) stay ~flat while the bug class tracks the
# 10x data growth.  tools/broadcast_audit.py is the standalone form.
#
# Probe pair (sf0.01, sf0.1), NOT (sf0.001, sf0.01): documents/embeddings
# are flat across the smaller pair (500 rows at both SFs), which is
# exactly how the original per-document norms broadcast went undetected.
# ---------------------------------------------------------------------------

SF_BIG = "/root/testdata/sf0.1"


def _hinted_relations(fn, spark, sf):
    """Build fn(spark, sf), returning the ROW COUNT of every DataFrame
    passed to F.broadcast.  Counted AT HINT TIME, not after fn returns:
    hints inside rolling-checkpoint loops (hits, min_label_components)
    reference checkpoint generations whose blocks a later iteration
    frees — a deferred .count() dies with checkpointRDDBlockIdNotFound
    (localCheckpoint has no lineage fallback)."""
    import pyspark.sql.functions as SFN

    real, rec = SFN.broadcast, []

    def spy(df):
        rec.append(df.count())
        return real(df)

    SFN.broadcast = spy
    try:
        fn(spark, sf)
    finally:
        SFN.broadcast = real
    return rec


def _growing_hints(fn, spark):
    """Indices of broadcast hints whose relation grows >3x (+20 rows slack,
    so k-row tables and tiny samples don't false-positive) from sf0.001 to
    sf0.1 — the scale every table grows across (4-10x)."""
    small = _hinted_relations(fn, spark, SF)
    if not small:
        return []
    big = _hinted_relations(fn, spark, SF_BIG)
    assert len(small) == len(big), "hint count differs between SFs"
    out = []
    for i, (ns, nb) in enumerate(zip(small, big)):
        if nb > 3 * ns + 20:
            out.append((i, ns, nb))
    return out


def test_no_broadcast_hint_on_scaling_relations(spark):
    import __spark_entry__ as entry

    # Bounded-by-construction relations whose growth SATURATES above the
    # probe SFs (the two-point empirical test cannot see a cap):
    growth_allowed = {
        # count-min sketch cell table: hard cap 4 x 1024 = 4096 rows
        # (operators/sketch.py cms_build); 562 -> 3444 here, ceiling 4096
        # regardless of corpus size.
        "sketch_cms_heavy_hitters",
    }
    offenders = {}
    for name, fn in entry.queries().items():
        if name in growth_allowed:
            continue
        grows = _growing_hints(fn, spark)
        if grows:
            offenders[name] = grows
    assert not offenders, (
        f"F.broadcast hint on a relation that grows with input scale "
        f"(query -> [(hint_idx, rows@sf0.01, rows@sf0.1)]): {offenders}"
    )


def test_broadcast_growth_canary(spark):
    """The detector must trip on a deliberately-planted per-document
    broadcast (the verdict's bug class) and stay quiet on a bounded-dim
    broadcast of the same shape."""
    from test_flink_spark.schemas import load_table

    def bad(spark, sf):
        docs = load_table(spark, sf, "documents")
        per_doc = docs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        return docs.join(F.broadcast(per_doc), "doc_id")

    def good(spark, sf):
        docs = load_table(spark, sf, "documents")
        per_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
        return docs.join(F.broadcast(per_lang), "lang")

    assert _growing_hints(bad, spark), "per-document broadcast not detected"
    assert not _growing_hints(good, spark), "bounded-dim broadcast flagged"


def test_no_registered_query_returns_decimal(spark):
    """Fleet-wide dtype hygiene (r5 verdict item 2): DuckDB's ROUND()
    yields DOUBLE while Spark's round() on a decimal-promoted expression
    (e.g. the `* 1.0` literal) stays DecimalType — the driver's
    schema_match rejects exactly that divergence.  The fleet convention
    (plans/__init__.py) bans DecimalType in any registered result schema;
    this asserts it structurally so the events_ab_test_report slip class
    cannot recur.  Schema-only: builds every plan, executes none."""
    from pyspark.sql.types import (
        ArrayType,
        DataType,
        DecimalType,
        MapType,
        StructType,
    )

    import __spark_entry__ as entry

    def _has_decimal(dt: DataType) -> bool:
        if isinstance(dt, DecimalType):
            return True
        if isinstance(dt, StructType):
            return any(_has_decimal(f.dataType) for f in dt.fields)
        if isinstance(dt, ArrayType):
            return _has_decimal(dt.elementType)
        if isinstance(dt, MapType):
            return _has_decimal(dt.keyType) or _has_decimal(dt.valueType)
        return False

    offenders = {}
    for name, fn in entry.queries().items():
        bad = [
            f.name
            for f in fn(spark, SF).schema.fields
            if _has_decimal(f.dataType)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"DecimalType columns in registered schemas: {offenders}"
