"""Error-bound checks for the sketch-based aggregates.

``approx_aggregates``'s oracle checks only guarantee booleans (sketch
results are engine-specific by design), so this is its correctness story:
the HLL count-distinct must land within its configured relative standard
deviation of the exact twin, and the approximate median must respect the
rank-error contract of ``percentile_approx``.

Both sketches hash deterministically, so the observed error is a fixed
number per dataset — the assertions are stable, not probabilistic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from test_flink_spark.schemas import load_table

SF = "/root/testdata/sf0.01"

# approx_count_distinct's rsd is ONE standard deviation of the estimator;
# 3 sigma is the conventional deterministic acceptance band.
RSD = 0.02
SIGMAS = 3


def test_approx_count_distinct_within_rsd_bound(spark):
    ev = load_table(spark, SF, "events")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=RSD).alias("approx"),
        )
        .collect()
    )
    assert rows, "events table is empty"
    for r in rows:
        rel_err = abs(r["approx"] - r["exact"]) / r["exact"]
        assert rel_err <= SIGMAS * RSD, (
            f"{r['event_type']}: approx={r['approx']} exact={r['exact']} "
            f"rel_err={rel_err:.4f} > {SIGMAS}x rsd ({SIGMAS * RSD})"
        )


def test_percentile_approx_within_rank_error(spark):
    """percentile_approx(accuracy=A) guarantees rank error <= n/A: the
    returned value must be an actual data value whose rank set
    [#(value < m) + 1, #(value <= m)] intersects the admissible rank window
    [n*(0.5 - 1/A), n*(0.5 + 1/A)] — asserted directly on rank counts, no
    interpolation ambiguity."""
    accuracy = 10_000
    ev = load_table(spark, SF, "events").select("event_type", "value")
    approx = (
        ev.groupBy("event_type")
        .agg(F.percentile_approx("value", 0.5, accuracy).alias("m"))
    )
    rows = (
        ev.join(F.broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") < F.col("m")).cast("long")).alias("cnt_lt"),
            F.sum((F.col("value") <= F.col("m")).cast("long")).alias("cnt_le"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        eps = r["n"] / accuracy
        lo_rank, hi_rank = 0.5 * r["n"] - eps, 0.5 * r["n"] + eps
        # rank interval occupied by m: [cnt_lt + 1, cnt_le]
        assert r["cnt_lt"] + 1 <= hi_rank + 1 and r["cnt_le"] >= lo_rank - 1, (
            f"{r['event_type']}: approx median occupies ranks "
            f"[{r['cnt_lt'] + 1}, {r['cnt_le']}] of n={r['n']}, outside "
            f"admissible window [{lo_rank:.1f}, {hi_rank:.1f}]"
        )
