"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Generates the workload's inputs from the
seed, runs the workload in a fresh worker process, checks its outputs, and
prints one JSON line last on stdout: the end-to-end metrics (``--trace 0``)
or the per-layer metrics of a traced run (``--trace 1``).  A readable
``<workload>/<metric>`` table goes to stderr.  See perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import gen  # noqa: E402
from common import p95_supported, process_tree  # noqa: E402

WORKLOADS = ("hot_items_stream", "media_track_stream", "corpus_curation_batch")
# local[1], as the reference jobs run at parallelism 1.  On a shared host a
# parallel stage waits for its slowest task, so CPU steal on any one vCPU
# stalls the stage; one task thread keeps the figures steady.
CORES = 1
# One GC thread, like the one task thread, so a pause does not wait on a
# stalled vCPU.  The heap keeps the program's own default size and grows
# as the program allocates, so peak RSS follows the program.
JVM_OPTS = "-XX:ParallelGCThreads=1 -XX:ConcGCThreads=1"
# End-to-end figures every run prints but BENCHMARK.json does not gate;
# traced runs report them as ``e2e.*``.  On a shared 4-vCPU host whose CPU
# steal moves between 0% and 16% from minute to minute, the wall-clock ones
# spread 0.07-0.33 over ten runs (interquartile range over median),
# depending on the hour; peak RSS spreads 0.04-0.27, as G1 grows the heap
# by different amounts from run to run.  The gated cpu_s_per_krec spreads
# 0.04-0.11 (steal is not charged to a process).
UNGATED = {"throughput_rps": "1/s", "latency_p50_s": "s", "latency_p95_s": "s", "peak_rss_mb": "MB"}
RUN_BUDGET_S = 170  # the whole command ends within this, workers included


def bench_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(CORES),
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '{JVM_OPTS}' pyspark-shell",
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    return env


def _reap(pids, timeout_s: float = 20.0) -> None:
    """Wait until the worker's children (the JVM) have exited; kill what
    is left after ``timeout_s``."""
    deadline = time.time() + timeout_s
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_worker(root: str, work: str, cfg: dict, deadline: float) -> dict:
    """Run one worker process to completion; returns its result plus the
    set-up time measured from this side of the process start."""
    cfg = dict(cfg, root=root, work=work)
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    t_spawn = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=root, env=_env(work), stdout=sys.stderr, stderr=sys.stderr,
    )
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pids = process_tree(proc.pid)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.wait()
        _reap(pids[1:], timeout_s=5.0)
        raise RuntimeError(f"worker ran past the {RUN_BUDGET_S} s budget") from None
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    _reap(res.get("child_pids", []))
    if "error" in res:
        raise RuntimeError("worker failed:\n" + res["error"])
    if proc.returncode != 0:
        raise RuntimeError(f"worker exited with {proc.returncode}")
    res["setup_s"] = res["ready"] - t_spawn
    return res


def stage_inputs(workload: str, seed: int, seconds: int, work: str) -> dict:
    stage = os.path.join(work, "stage")
    cfg = {}
    if workload == "corpus_curation_batch":
        for i in range(corpus.WARMUP_JOBS + corpus.TIMED_JOBS):
            docs = gen.CORPUS["warmup_docs" if i < corpus.WARMUP_JOBS else "docs"]
            gen.corpus_shard(seed, i, os.path.join(stage, str(i)), docs)
        cfg["docs_per_shard"] = gen.CORPUS["docs"]
    else:
        plan = gen.stage_stream(workload, seed, seconds, stage)
        with open(os.path.join(work, "plan.json"), "w") as fh:
            json.dump(plan, fh)
        os.makedirs(os.path.join(work, "src"))
    return cfg


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    deadline = time.time() + RUN_BUDGET_S
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "test_flink_spark", "session.py")):
        print("perfbench: no program (test_flink_spark/) in the current directory",
              file=sys.stderr)
        return 2
    spec = bench_spec()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        base = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace}
        base.update(stage_inputs(args.workload, args.seed, args.seconds, work))
        res = run_worker(root, work, base, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(res["e2e"], setup_s=res["setup_s"])
    layer = {k: 0.0 for k in (m["name"] for m in spec["per_layer"])}
    layer.update(res["layer"])
    layer["session.start_s"] = res["session_start_s"]
    for k in UNGATED:
        layer[f"e2e.{k}"] = e2e[k]
    if args.trace and args.workload == "hot_items_stream":
        layer["scaling.single_core_rps"] = res["drain_rps"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float((layer if args.trace else e2e)[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    shown = metrics if args.trace else {
        **{k: {"value": e2e[k], "unit": u} for k, u in UNGATED.items()}, **metrics}
    for name, m in shown.items():
        print(f"{args.workload}/{name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    n_lat = res["samples"]["latency"]
    diag = {k: res["layer"][k] for k in ("host.steal_frac", "loadgen.lateness_p95_s",
                                         "sources.backlog_growth") if k in res["layer"]}
    if "offered_frac" in res:
        diag["open_loop_rate_over_drain_rate"] = res["offered_frac"]
    print(f"{args.workload}: failed {res['failed']}/{res['attempted']}; latency samples {n_lat} "
          f"(p95 {'supported' if p95_supported(n_lat) else 'has fewer than ten samples beyond it'}); "
          f"drift {json.dumps(res['drift'])}; {json.dumps(diag)}; "
          f"phase seconds {json.dumps(res.get('phase_s', {}))}", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
