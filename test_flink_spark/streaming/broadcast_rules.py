"""Flink broadcast-state pattern, re-expressed Spark-first — dynamic rule
updates applied to an in-flight event stream.

The Flink original (the canonical BroadcastProcessFunction use case, e.g.
the fraud-rules example in the Flink docs): a low-throughput RULES stream
is broadcast to every task and stored in broadcast state; the main event
stream is evaluated against whatever rules are in state at processing
time, so a rule update changes the verdicts of every event that arrives
AFTER it — never retroactively.

Spark has no broadcast state; the idiomatic twin is two cooperating
foreachBatch queries sharing a versioned rules snapshot on disk:

1. **Rules fold** (:func:`rules_ingest_batch`) — each rules micro-batch
   (rule_id, event_type, min_value_cents, enabled, seq) is upserted into
   the snapshot committed as batch N of ``{state_dir}/rules`` by
   last-writer-wins per rule_id (ordered by the monotonic ``seq``, rule
   updates and disables both being ordinary rows), through
   sinks/files.py's commit protocol.
2. **Event evaluation** (:func:`apply_rules_batch`) — each event
   micro-batch equi-joins the LATEST rules snapshot on event_type,
   keeps rows meeting the rule's threshold, and commits its verdicts as
   batch N of the output root.  The join side is the rules snapshot: tiny by
   construction (it is the broadcast state), so Spark's planner
   broadcasts it — exactly the data flow Flink implements with
   broadcast state, with the snapshot version recorded per verdict so
   the processing-time semantics are auditable after the fact.

Semantics note (pinned by the differential test): like Flink, a rule
update is NOT retroactive — events evaluated under rules snapshot 0 keep
their verdicts when snapshot 1 lands.  A batch recomputation over the union
would re-verdict everything under the FINAL rules; the twin test pins
both (per-batch verdicts replay under the per-batch snapshot, and the
final snapshot equals the last-writer-wins fold of all rule rows).

At 100 TB the rules snapshot stays a broadcast-size table (rules are
authored by humans); the event side scales horizontally and the
per-batch join is map-side.  Reference parity: the reference jobs have
static filters (HotItemAnalysis.java:103 ``behavior == "pv"``); this is
that filter made dynamic — the §2.10 superset path for config-driven
pipelines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin, scoped
from ..sinks.files import commit, fold_target, latest, read_batch

_RULES_SCHEMA = (
    "rule_id LONG, event_type STRING, min_value_cents LONG, enabled BOOLEAN,"
    " seq LONG"
)


def rules_ingest_batch(
    batch_df: DataFrame, state_dir: str, batch_id: int | None = None
) -> DataFrame:
    """Fold ONE micro-batch of rule rows into the versioned rules
    snapshot (last-writer-wins per rule_id by ``seq``, ties to the later
    row broken by larger min_value_cents then enabled=false — a total
    order so retries are deterministic).  Returns the new snapshot."""
    spark = batch_df.sparkSession
    root = os.path.join(state_dir, "rules")
    prior_id, version = fold_target(root, batch_id)
    prior = read_batch(spark, root, prior_id, _RULES_SCHEMA)
    from pyspark.sql import Window

    w = Window.partitionBy("rule_id").orderBy(
        F.col("seq").desc(),
        F.col("min_value_cents").desc(),
        F.col("enabled").asc(),
    )
    merged = pin(
        prior.unionByName(batch_df.select(*prior.columns))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    commit(merged, root, version)
    return merged


def apply_rules_batch(
    events_df: DataFrame, state_dir: str, out_dir: str, batch_id: int
) -> None:
    """Evaluate ONE event micro-batch against the LATEST rules snapshot
    (processing-time semantics: whatever is in 'broadcast state' now) and
    commit verdicts ``(event_id, rule_id, rules_version)`` as batch
    ``batch_id`` of ``out_dir``.  Events with no enabled matching rule
    produce no row — the Flink side-output-less variant.

    Runs concurrently with the rules fold.  Only marked snapshots are
    read, and a marked snapshot is never rewritten, so this batch
    evaluates against the newest committed snapshot — the "whatever is
    in broadcast state right now" semantics Flink gives."""
    spark = events_df.sparkSession
    root = os.path.join(state_dir, "rules")
    version = latest(root)
    if version is None:
        return
    rules_all = pin(read_batch(spark, root, version))
    rules = rules_all.filter(F.col("enabled"))
    flagged = (
        events_df.join(rules, "event_type")
        .filter(
            F.expr("cast(round(value * 100, 0) as bigint) >= min_value_cents")
        )
        .select(
            "event_id",
            "rule_id",
            F.lit(version).cast("long").alias("rules_version"),
        )
    )
    commit(flagged, out_dir, batch_id)


def streaming_broadcast_rules(
    rules_stream: DataFrame,
    events_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Wire both halves as streaming queries: the rules stream folds
    into the versioned snapshot; the event stream evaluates each
    micro-batch against the latest snapshot.  Returns (rules_query,
    events_query)."""
    rq = (
        rules_stream.writeStream.foreachBatch(scoped(rules_ingest_batch, state_dir))
        .queryName("broadcast_rules_fold")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "rules"))
        .start()
    )
    eq = (
        events_stream.writeStream.foreachBatch(
            scoped(apply_rules_batch, state_dir, out_dir)
        )
        .queryName("broadcast_rules_apply")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "events"))
        .start()
    )
    return rq, eq
