"""Streaming incremental GDPR erasure-audit — the governance family's
streaming twin (fold shape proven by stats_ingest).

``gdpr_erasure_audit`` (plans/advanced.py) prices the blast radius of
erasing the 1/32 md5 customer cohort as a BATCH scan: rows to delete and
distinct subjects per table.  A 100 TB pipeline cannot re-price that by
rescanning history on every ingest, so this twin maintains the audit
continuously over a unified CDC stream of row-arrival records

    src STRING ('customer'|'orders'|'lineitem'|'events'),
    k1 LONG, k2 LONG
      customer: k1 = c_custkey
      orders:   k1 = o_orderkey, k2 = o_custkey
      lineitem: k1 = l_orderkey
      events:   k1 = user_id

folded per micro-batch into ONE snapshot, committed as batch N of
``{state_dir}/gdpr`` (sinks/files.py's commit protocol), a single
uniformly-foldable table:

    kind STRING, table_name STRING, k LONG, v LONG
      counts:  per-(table, subject) cohort row counts   (k=subject, v=n)
      omap:    cohort order -> custkey map              (k=orderkey, v=custkey)
      seen:    non-cohort orders already arrived        (k=orderkey, v=0)
      pending: lineitems whose order has NOT arrived    (k=orderkey, v=n)

Design notes, scale-first:

* Cohort membership for customer/orders/events rows is a stateless
  md5(custkey) % 32 predicate on the row itself — no join, no state.
* lineitem rows carry only l_orderkey, so they need the order->custkey
  enrichment: matched-cohort rows fold into counts; rows matching a
  ``seen`` non-cohort order are DISCARDED (their subject can never be in
  the cohort); only rows whose order has not arrived at all wait in
  ``pending`` and are re-matched the moment it does (the out-of-order
  CDC case a real erasure ledger must absorb — this is a streaming join
  with explicit, bounded state, Flink's keyed-state enrichment
  re-expressed as a snapshot fold).  Without the ``seen`` tombstones,
  the ~31/32 of lineitems referencing non-cohort orders would re-queue
  into pending on every batch forever: pending would scale with total
  ingested lineitems, not with in-flight orphans.
* State is O(cohort + orderkeys seen): counts keys are cohort subjects
  x 4 tables, omap is cohort orders, ``seen`` is a key-only set over
  non-cohort orders (the price of EXACT orphan semantics under
  unbounded disorder — a production deployment bounds it further with
  a disorder watermark that expires tombstones, or a Bloom filter once
  a false-positive discard rate is acceptable), and pending is bounded
  by in-flight orphan lineitems.  Nothing in the snapshot scales with
  total ingested LINEITEM rows — the unbounded-fan-in table.
* Parity with the batch audit is exact under FK-complete prefixes, and
  two-sided in general:
    - lineitem legs are exact mid-stream in BOTH directions — the batch
      audit inner-joins lineitem to orders, so in-flight orphans are
      excluded by both sides until the order lands;
    - orders/events legs decide membership with the stateless
      md5(custkey) predicate on arrival, while the batch audit derives
      the cohort from the CUSTOMER table — an order/event arriving
      BEFORE its customer row is counted here and excluded there until
      the customer lands (the twin is deliberately the early-counting
      side: an erasure ledger must price rows whose subject is already
      determinable from the row itself).  After every batch where the
      rows-so-far are FK-complete w.r.t. customer, ``audit()`` equals
      ``gdpr_erasure_audit`` over those rows exactly (differentials in
      tests/test_streaming.py pin the FK-complete interleave, the
      customer-late divergence-and-convergence case, retry idempotence
      and orphan-crash recovery).

Reference parity: the reference's only stateful operator is the keyed
ListState Top-N (HotItemAnalysis.java:173-223); this twin exercises the
same keyed-state + event-driven-rematch machinery on the governance
surface the LLM-data pipeline needs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import pin, scoped
from ..sinks.files import commit, fold_target, latest, read_batch

_GDPR_MOD = 32  # must match plans/advanced.py's erasure cohort

_STATE_SCHEMA = "kind STRING, table_name STRING, k LONG, v LONG"
_PREFIX = "gdpr"


def _in_cohort(col: str):
    """md5(custkey) % 32 == 0 — identical to the batch query's stratum."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % _GDPR_MOD
        == 0
    )


def _counts(df: DataFrame, table: str, subject: str) -> DataFrame:
    return df.groupBy(F.col(subject).alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("v")
    ).select(
        F.lit("counts").alias("kind"),
        F.lit(table).alias("table_name"),
        "k",
        "v",
    )


def gdpr_ingest_batch(
    batch_df: DataFrame, state_dir: str, batch_id: int | None = None
) -> DataFrame:
    """Fold ONE micro-batch of CDC row-arrival records into the audit
    snapshot.  Returns the new snapshot DataFrame."""
    spark = batch_df.sparkSession
    root = os.path.join(state_dir, _PREFIX)
    prior_id, version = fold_target(root, batch_id)
    prior = read_batch(spark, root, prior_id, _STATE_SCHEMA)
    batch_df = pin(batch_df)  # read once, reuse 4x

    # --- stateless cohort legs -------------------------------------------
    cust = batch_df.filter((F.col("src") == "customer") & _in_cohort("k1"))
    orders_any = batch_df.filter(F.col("src") == "orders")
    orders = orders_any.filter(_in_cohort("k2"))
    events = batch_df.filter((F.col("src") == "events") & _in_cohort("k1"))
    legs = [
        _counts(cust, "customer", "k1"),
        _counts(orders, "orders", "k2"),
        _counts(events, "events", "k1"),
    ]

    # --- order->custkey map: prior omap + this batch's cohort orders ------
    omap_new = orders.select(
        F.lit("omap").alias("kind"),
        F.lit(None).cast("string").alias("table_name"),
        F.col("k1").alias("k"),
        F.col("k2").alias("v"),
    ).dropDuplicates(["k"])
    omap_all = pin(
        prior.filter(F.col("kind") == "omap")
        .unionByName(omap_new)
        .dropDuplicates(["k"])  # an orderkey maps to one custkey
    )
    # seen tombstones for NON-cohort orders: a lineitem whose
    # order is known non-cohort is discarded, not parked — without this,
    # pending re-queues ~31/32 of all lineitems every batch forever.
    # Key-only set: v is a constant 0.
    seen_new = orders_any.filter(~_in_cohort("k2")).select(
        F.lit("seen").alias("kind"),
        F.lit(None).cast("string").alias("table_name"),
        F.col("k1").alias("k"),
        F.lit(0).cast("long").alias("v"),
    ).dropDuplicates(["k"])
    seen_all = pin(
        prior.filter(F.col("kind") == "seen")
        .unionByName(seen_new)
        .dropDuplicates(["k"])
    )

    # --- lineitem enrichment with pending re-match ------------------------
    li = (
        batch_df.filter(F.col("src") == "lineitem")
        .groupBy(F.col("k1").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    pending_prior = prior.filter(F.col("kind") == "pending").select("k", "v")
    li_all = (
        li.unionByName(pending_prior)
        .groupBy("k")
        .agg(F.sum("v").cast("long").alias("v"))
    )
    # no broadcast hint: omap is O(cohort orders) — tiny at test SFs (AQE
    # broadcasts it), but 1/32 of ALL orders at 100 TB, where a size-based
    # degrade to shuffle join is the correct call
    omap_kv = omap_all.select(F.col("k").alias("ok"), F.col("v").alias("subject"))
    matched = li_all.join(omap_kv, li_all.k == omap_kv.ok, "left")
    legs.append(
        matched.filter(F.col("subject").isNotNull())
        .groupBy(F.col("subject").alias("k"))
        .agg(F.sum("v").cast("long").alias("v"))
        .select(
            F.lit("counts").alias("kind"),
            F.lit("lineitem").alias("table_name"),
            "k",
            "v",
        )
    )
    pending_new = (
        matched.filter(F.col("subject").isNull())
        # discard lineitems whose order is a seen NON-cohort order: only
        # truly in-flight orphans remain pending (state contract above)
        .join(
            seen_all.select(F.col("k").alias("sk")),
            F.col("k") == F.col("sk"),
            "left_anti",
        )
        .select(
            F.lit("pending").alias("kind"),
            F.lit(None).cast("string").alias("table_name"),
            "k",
            "v",
        )
    )

    # --- fold counts with prior and publish -------------------------------
    counts_all = prior.filter(F.col("kind") == "counts")
    for leg in legs:
        counts_all = counts_all.unionByName(leg)
    counts_folded = counts_all.groupBy("kind", "table_name", "k").agg(
        F.sum("v").cast("long").alias("v")
    )
    snapshot = pin(
        counts_folded.unionByName(omap_all)
        .unionByName(seen_all)
        .unionByName(pending_new)
    )
    commit(snapshot, root, version)
    return snapshot


def audit(spark, state_dir: str) -> DataFrame:
    """Read-side: the blast-radius audit over everything ingested so far —
    same output columns as plans.advanced.gdpr_erasure_audit."""
    root = os.path.join(state_dir, _PREFIX)
    b = latest(root)
    if b is None:
        return spark.createDataFrame(
            [], "table_name STRING, n_rows LONG, n_subjects LONG"
        )
    return (
        read_batch(spark, root, b)
        .filter(F.col("kind") == "counts")
        .groupBy("table_name")
        .agg(
            F.sum("v").cast("long").alias("n_rows"),
            F.countDistinct("k").cast("long").alias("n_subjects"),
        )
    )


def streaming_gdpr_audit(
    cdc_stream: DataFrame, state_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Wire the fold as a foreachBatch streaming query."""
    return (
        cdc_stream.writeStream.foreachBatch(scoped(gdpr_ingest_batch, state_dir))
        .queryName("gdpr_erasure_fold")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
