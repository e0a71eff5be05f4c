#!/usr/bin/env python3
"""Capture `.explain('formatted')` for named registered queries.

Usage: python tools/capture_plans.py OUTDIR SUFFIX NAME [NAME ...]

Writes OUTDIR/<name>_<SUFFIX>.txt for each query (SUFFIX is e.g. 'before'
or 'after').  Run from any repo checkout: the checkout holding this script
decides which code is explained.  Planning only — no job runs except the
driver-side work a query function itself performs (e.g. k-means training
collects), as it would under the bench.  $SPARK_GRAFT_SF_DIR picks the
data (default /root/testdata/sf0.1).
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from test_flink_spark.plans import all_queries
    from test_flink_spark.session import get_spark

    spark = get_spark("capture-plans", master="local[4]", shuffle_partitions=8)
    qs = all_queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", file=sys.stderr)


if __name__ == "__main__":
    main()
