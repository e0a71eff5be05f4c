"""One workload in one fresh process, so no JIT or GC history carries over
from another workload.

    python3 perfbench/worker.py CONFIG.json

CONFIG names the workload, the run's work directory and the trace flag.
The result goes to ``<work>/result.json``; the ready time it records
gives the run's set-up time."""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import Tracer, process_tree  # noqa: E402


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    sys.path.insert(0, cfg["root"])
    work = cfg["work"]
    result: dict = {}
    tracer = Tracer(bool(cfg["trace"]))
    spark = query = None
    try:
        from test_flink_spark.session import get_spark

        t = time.time()
        spark = get_spark(f"perfbench {cfg['workload']}")
        result["session_start_s"] = time.time() - t
        if cfg["workload"] == "corpus_curation_batch":
            import corpus

            # session warmed: its first job (executor and codegen start-up)
            spark.range(1).collect()
            result["ready"] = time.time()
            corpus.run(cfg, tracer, result, spark)
        else:
            import streams

            job = (streams.HotItems if cfg["workload"] == "hot_items_stream" else streams.MediaTrack)(tracer)
            query = job.start(
                spark, os.path.join(work, "src"), os.path.join(work, "out"), os.path.join(work, "ckpt")
            )
            result["ready"] = time.time()
            streams.run(cfg, tracer, result, spark, query, job)
        tracer.write(os.path.join(cfg["root"], ".perfbench_out", f"{cfg['workload']}-seed{cfg['seed']}-spans.json"))
    except Exception:
        result["error"] = traceback.format_exc()
        print(result["error"], file=sys.stderr)
    finally:
        if query is not None and query.isActive:
            query.stop()
        if spark is not None:
            # the JVM outlives spark.stop() until this process exits; the
            # parent waits for these pids to end
            result["child_pids"] = process_tree(os.getpid())[1:]
            spark.stop()
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main(sys.argv[1])
