"""The two stream workloads, driven through the program's public functions.

hot_items_stream: text_lines → pipelines.hot_items.behavior_counts (parse,
pv filter, watermark, 1 h / 5 min sliding count) → foreachBatch top-3
(operators.topn.top_n_by_count) → sinks.files.idempotent_batch_sink.

media_track_stream: text_lines → pipelines.hot_media_track.transform (JSON
parse, watermark, 30 s tumbling count) → sinks.files.start_parquet_matview
(the file form of the reference's keyed MySQL upsert).

Phases, all inside one fresh process: set-up (session + query started on
an empty directory), warm-up (fixed number of files), drain (fixed-size
files, one micro-batch each, closed loop), open loop (a separate generator
process lands files on a wall-clock schedule), then the output check."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime, timezone

import numpy as np

from common import Meter, median, peak_rss_mb, process_tree, quantile

SLIDE_MS = 300_000
TUMBLE_MS = 30_000
# The open loop must run below capacity, or latency times a queue.  The
# backlog (files landed but not yet read, sampled at each micro-batch start)
# swings with the trigger length; at 2500 ev/s on a 4-vCPU host its peak in
# the late half of the measured span exceeded the early half's by at most
# 3 files.  More than this limit (half a second of offered input) marks the
# run invalid: one failed operation.
BACKLOG_GROWTH_LIMIT = 5


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class HotItems:
    name = "hot items job"

    def __init__(self, tracer):
        self.tracer = tracer
        self.trace_unit = None  # set while a traced drain batch runs
        self.trace_parent = None

    def start(self, spark, src, out, ckpt):
        from test_flink_spark.operators.topn import top_n_by_count
        from test_flink_spark.pipelines.hot_items import behavior_counts
        from test_flink_spark.sinks.files import idempotent_batch_sink
        from test_flink_spark.sinks.memory import start_foreach_batch
        from test_flink_spark.sources.files import text_lines

        sink = idempotent_batch_sink(out)
        tracer = self.tracer

        def rank_batch(batch_df, batch_id):
            unit, parent = self.trace_unit, self.trace_parent
            if unit is not None:
                # traced: materialize each layer at its boundary
                with tracer.span("streaming.state", unit, parent):
                    batch_df = batch_df.localCheckpoint(eager=True)
                with tracer.span("topn", unit, parent):
                    ranked = top_n_by_count(
                        batch_df, ["window_end"], "cnt", ["item_id"], 3
                    ).localCheckpoint(eager=True)
                with tracer.span("sinks.write", unit, parent):
                    sink(ranked.select("window_end", "rank", "item_id", "cnt"), batch_id)
                return
            ranked = top_n_by_count(batch_df, ["window_end"], "cnt", ["item_id"], 3)
            sink(ranked.select("window_end", "rank", "item_id", "cnt"), batch_id)

        counts = behavior_counts(text_lines(spark, src, streaming=True), streaming=True)
        return start_foreach_batch(
            counts, rank_batch, name=self.name, checkpoint=ckpt, mode="append"
        )

    def trace_layers(self, spark, path, unit, parent) -> int:
        """Parse and window one batch's file outside the stream; returns
        the parse's null-key row count."""
        from pyspark.sql import functions as F

        from test_flink_spark.functions.parsing import parse_user_behavior
        from test_flink_spark.operators.windows import sliding_count
        from test_flink_spark.sources.files import text_lines

        with self.tracer.span("parsing", unit, parent):
            parsed = parse_user_behavior(text_lines(spark, path)).localCheckpoint(eager=True)
        nulls = parsed.filter(F.col("item_id").isNull() | F.col("ts").isNull()).count()
        with self.tracer.span("windows", unit, parent):
            _noop(sliding_count(parsed.filter(F.col("behavior") == "pv"), "ts", ["item_id"],
                                "1 hour", "5 minutes"))
        return nulls

    def expected(self, spark, src):
        from test_flink_spark.pipelines.hot_items import batch_top_n
        from test_flink_spark.sources.files import text_lines

        rows = batch_top_n(text_lines(spark, src), n=3).collect()
        out: dict[int, set] = {}
        for r in rows:
            out.setdefault(r["window_end"], set()).add((r["rank"], r["item_id"], r["cnt"]))
        return out

    def emitted(self, out):
        """window_end -> (first emitting batch id, row set, times emitted)."""
        import pyarrow.parquet as pq

        res: dict[int, list] = {}
        commit = os.path.join(out, "_committed")
        for marker in sorted(os.listdir(commit), key=lambda m: int(m.split("-")[1])):
            bid = int(marker.split("-")[1])
            t = pq.read_table(os.path.join(out, "data", marker)).to_pydict()
            per: dict[int, set] = {}
            for we, rk, it, c in zip(t["window_end"], t["rank"], t["item_id"], t["cnt"]):
                per.setdefault(we, set()).add((rk, it, c))
            for we, rows in per.items():
                if we in res:
                    res[we][2] += 1
                else:
                    res[we] = [bid, rows, 1]
        return res

    def check(self, spark, src, out, max_ts_ms):
        """(attempted, failed, emitted) — one operation per window result."""
        exp = self.expected(spark, src)
        got = self.emitted(out)
        closed = {we for we in exp if we <= max_ts_ms - SLIDE_MS}
        attempted = failed = 0
        for we in closed | set(got):
            attempted += 1
            g = got.get(we)
            if g is None or g[2] != 1 or exp.get(we) != g[1]:
                failed += 1
        return attempted, failed, got

    def latencies(self, got, cols, plan, t0, commit):
        """Per window result: emitting batch commit − due time of the last
        pv event before the window end."""
        ts_ms = cols["ts"] * 1000
        pv_idx = np.nonzero(cols["pv"])[0]
        pv_ts = ts_ms[pv_idx]
        lo, hi = plan["lead_in_s"], plan["lead_in_s"] + plan["measured_s"]
        out = []
        for we, (bid, _, _) in got.items():
            k = np.searchsorted(pv_ts, we, side="left") - 1
            if k < 0 or k == len(pv_ts) - 1:
                continue  # window not closed inside the open-loop phase
            j = int(pv_idx[k])
            due = j / plan["rate"]
            if lo <= due < hi and bid in commit:
                out.append((due, commit[bid] - (t0 + due)))
        return out


class MediaTrack:
    name = "track count"

    def __init__(self, tracer):
        self.tracer = tracer
        self.trace_unit = None
        self.trace_parent = None

    def start(self, spark, src, out, ckpt):
        from test_flink_spark.pipelines.hot_media_track import transform
        from test_flink_spark.sinks.files import start_parquet_matview
        from test_flink_spark.sources.files import text_lines

        counts = transform(text_lines(spark, src, streaming=True), streaming=True)
        return start_parquet_matview(
            counts, out, ["time", "appid", "type"], ckpt, query_name=self.name
        )

    def trace_layers(self, spark, path, unit, parent) -> int:
        from pyspark.sql import functions as F

        from test_flink_spark.functions.parsing import parse_log_track
        from test_flink_spark.operators.windows import tumbling_count
        from test_flink_spark.sources.files import text_lines

        with self.tracer.span("parsing", unit, parent):
            parsed = parse_log_track(text_lines(spark, path)).localCheckpoint(eager=True)
        nulls = parsed.filter(
            F.col("appid").isNull() | F.col("type").isNull()
            | F.col("receive_time").isNull() | F.col("event_time").isNull()
        ).count()
        with self.tracer.span("windows", unit, parent):
            _noop(tumbling_count(parsed, "receive_time", ["appid", "type"], "30 seconds",
                                 count_as="count"))
        return nulls

    def check(self, spark, src, out, max_ts_ms):
        """(attempted, failed, view rows) — one operation per (window, key)
        row of the view against the batch form over the same files."""
        import pyarrow.parquet as pq

        from test_flink_spark.pipelines.hot_media_track import transform
        from test_flink_spark.sources.files import text_lines

        def key(r):
            t = r["time"]
            return (int(t.replace(tzinfo=timezone.utc).timestamp() * 1000), r["appid"], r["type"])

        exp = {key(r): r["count"] for r in
               transform(text_lines(spark, src), streaming=False).collect()}
        got: dict = {}
        dup = 0
        for r in pq.read_table(out).to_pylist():
            k = key(r)
            dup += k in got
            got[k] = r["count"]
        attempted = len(set(exp) | set(got))
        failed = dup + sum(1 for k in set(exp) | set(got) if exp.get(k) != got.get(k))
        return attempted, failed, len(got)

    def latencies(self, cum_rows, cols, plan, t0, commit_by_index):
        """Per (window, key) result: commit of the micro-batch holding its
        last event − that event's due time.  The holding batch is found by
        counting cumulative numInputRows against the event order."""
        win = cols["log_ms"] // TUMBLE_MS
        key = cols["key"]
        n = len(win)
        gid = win * 100_000 + key
        order = np.lexsort((np.arange(n), gid))
        last = order[np.r_[gid[order][1:] != gid[order][:-1], True]]
        lo, hi = plan["lead_in_s"], plan["lead_in_s"] + plan["measured_s"]
        out = []
        for j in last.tolist():
            due = j / plan["rate"]
            if lo <= due < hi:
                b = int(np.searchsorted(cum_rows, plan["open_first"] + j, side="right"))
                if b < len(commit_by_index):
                    out.append((due, commit_by_index[b] - (t0 + due)))
        return out


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


class Progress:
    """Every progress event of the query, polled from the public
    ``StreamingQuery.recentProgress`` and keyed by batch id."""

    def __init__(self, query):
        self.query = query
        self.by_id: dict[int, dict] = {}

    def poll(self):
        for p in self.query.recentProgress:
            d = json.loads(p.json)
            self.by_id[d["batchId"]] = d

    def batches(self):
        return [self.by_id[k] for k in sorted(self.by_id)]


def _state(b, key):
    return sum(op.get(key, 0) or 0 for op in b.get("stateOperators", []))


def run(cfg: dict, tracer, result: dict, spark, query, job) -> None:
    work, root = cfg["work"], cfg["root"]
    with open(os.path.join(work, "plan.json")) as fh:
        plan = json.load(fh)
    stage, src = os.path.join(work, "stage"), os.path.join(work, "src")
    out = os.path.join(work, "out")
    prog = Progress(query)

    def land(f):
        os.rename(os.path.join(stage, f["name"]), os.path.join(src, f["name"]))

    marks = result.setdefault("phase_s", {})
    t_phase = time.time()
    # warm-up: a fixed number of files, identical on every commit
    for f in plan["phases"]["warmup"]:
        land(f)
        query.processAllAvailable()
    prog.poll()
    first_drain_batch = max(prog.by_id) + 1 if prog.by_id else 0
    marks["warmup"], t_phase = time.time() - t_phase, time.time()

    # drain: fixed-size files, one micro-batch each; in a traced run every
    # other batch is traced so the untraced ones price the tracing
    meter = Meter()
    walls = {True: [], False: []}
    batch_s = {True: [], False: []}  # file landed -> batch committed
    nulls = 0
    for k, f in enumerate(plan["phases"]["drain"]):
        traced = tracer.enabled and k % 2 == 0
        unit = k if traced else None
        t0 = time.time()
        with tracer.span("batch", unit if traced else -1) as root_span:
            if traced:
                nulls += job.trace_layers(spark, os.path.join(stage, f["name"]), unit, root_span.id)
            with tracer.span("stream", unit if traced else -1, root_span.id) as s:
                job.trace_unit, job.trace_parent = unit, s.id
                t_stage = time.time()
                land(f)
                query.processAllAvailable()
                t_done = time.time()
                job.trace_unit = job.trace_parent = None
        walls[traced].append(time.time() - t0)
        batch_s[traced].append(t_done - t_stage)
        prog.poll()
    drain = meter.stop()
    marks["drain"], t_phase = time.time() - t_phase, time.time()
    per_batch = plan["phases"]["drain"][0]["rows"]
    rates = [per_batch / s for s in batch_s[False]]  # untraced batches only
    result["drain_rps"] = median(rates)
    result["offered_frac"] = plan["rate"] / result["drain_rps"]
    first_open_batch = max(prog.by_id) + 1

    # open loop: a separate generator process on the wall clock
    meter = Meter()
    t0 = time.time() + 0.3
    log_path = os.path.join(work, "loadgen.json")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(root, "perfbench", "loadgen.py"),
         os.path.join(work, "plan.json"), stage, src, repr(t0), log_path]
    )
    try:
        while gen.poll() is None:
            time.sleep(0.5)
            prog.poll()
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"load generator exited with {gen.returncode}")
    query.processAllAvailable()
    time.sleep(0.5)  # let the watermark-only batch after the last file run
    query.processAllAvailable()
    prog.poll()
    openl = meter.stop()
    marks["open_loop"], t_phase = time.time() - t_phase, time.time()
    result["peak_rss_mb"] = peak_rss_mb(process_tree(os.getpid()))
    exc = query.exception()
    query.stop()
    if exc is not None:
        raise RuntimeError(f"streaming query failed: {exc}")

    with open(log_path) as fh:
        landed = json.load(fh)
    cols = dict(np.load(os.path.join(stage, "open.npz")))
    batches = prog.batches()
    rows = np.array([b["numInputRows"] for b in batches], dtype=np.int64)
    cum = np.cumsum(rows)
    total = sum(f["rows"] for ph in plan["phases"].values() for f in ph)
    if int(cum[-1]) != total:
        raise RuntimeError(f"progress saw {int(cum[-1])} input rows, generator wrote {total}")
    ids = [b["batchId"] for b in batches]
    if ids != list(range(ids[0], ids[0] + len(ids))):
        raise RuntimeError("progress events missing for some micro-batches")

    def commit(b):
        d = b["durationMs"]
        return _ts(b["timestamp"]) + (d.get("triggerExecution", 0) - d.get("commitOffsets", 0)) / 1000

    commits = [commit(b) for b in batches]
    commit_by_id = {b["batchId"]: c for b, c in zip(batches, commits)}

    # output check (untimed)
    max_ts_ms = int(cols["ts"][-1] * 1000) if "ts" in cols else int(cols["log_ms"][-1])
    if isinstance(job, HotItems):
        attempted, failed, got = job.check(spark, src, out, max_ts_ms)
        lat = job.latencies(got, cols, plan, t0, commit_by_id)
        view_rows = 0
        rows_out = sum(len(g[1]) for g in got.values())
    else:
        attempted, failed, view_rows = job.check(spark, src, out, max_ts_ms)
        lat = job.latencies(cum, cols, plan, t0, commits)
        rows_out = sum(_state(b, "numRowsUpdated") for b in batches if b["batchId"] >= first_drain_batch)
    marks["check"] = time.time() - t_phase

    # end-to-end metrics
    drain_rows = sum(f["rows"] for f in plan["phases"]["drain"])
    open_rows = sum(f["rows"] for f in plan["phases"]["open"])
    lats = [x for _, x in lat]
    result["e2e"] = {
        "throughput_rps": median(rates),
        "latency_p50_s": median(lats),
        "latency_p95_s": quantile(lats, 0.95),
        "cpu_s_per_krec": (drain["cpu_s"] + openl["cpu_s"]) / ((drain_rows + open_rows) / 1000),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    half = plan["lead_in_s"] + plan["measured_s"] / 2
    early = [x for d, x in lat if d < half]
    late = [x for d, x in lat if d >= half]
    result["drift"] = {
        "latency_p50_early_s": median(early), "latency_p50_late_s": median(late),
        "drain_rps_early": median(rates[: len(rates) // 2]),
        "drain_rps_late": median(rates[len(rates) // 2:]),
    }
    result["samples"] = {"latency": len(lats), "drain_batches": len(rates)}

    # per-layer metrics, measured from outside
    timed = [b for b in batches if b["batchId"] >= first_drain_batch]
    data = [b for b in timed if b["numInputRows"] > 0]
    dur = lambda b, *ks: sum(b["durationMs"].get(k, 0) for k in ks) / 1000  # noqa: E731
    open_files = plan["phases"]["open"]
    per_file = open_files[0]["rows"]
    backlog = []
    lo_t, hi_t = t0 + plan["lead_in_s"], t0 + plan["lead_in_s"] + plan["measured_s"]
    land_times = [x["landed"] for x in landed]
    for b, c0 in zip(batches, cum - rows):
        if b["batchId"] < first_open_batch:
            continue
        start = _ts(b["timestamp"])
        if not lo_t <= start < hi_t:
            continue
        consumed = max(0, (int(c0) - plan["open_first"]) // per_file)
        arrived = int(np.searchsorted(land_times, start, side="right"))
        backlog.append((start, max(0, arrived - consumed)))
    mid_t = (lo_t + hi_t) / 2
    bl_early = max([n for t, n in backlog if t < mid_t], default=0)
    bl_late = max([n for t, n in backlog if t >= mid_t], default=0)
    sustained = bl_late - bl_early <= BACKLOG_GROWTH_LIMIT
    result.update(attempted=attempted + 1, failed=failed + (not sustained))
    timed_files = plan["phases"]["drain"] + open_files
    dropped = sum(_state(b, "numRowsDroppedByWatermark") for b in timed)
    layer = {
        "sources.rows_in": float(sum(b["numInputRows"] for b in timed)),
        "sources.bytes_in": float(sum(f["bytes"] for f in timed_files)),
        "sources.offset_s": median([dur(b, "latestOffset", "getBatch") for b in data]),
        "sources.backlog_files_max": float(max(bl_early, bl_late)),
        "sources.backlog_growth": float(bl_late - bl_early),
        "parsing.rows_null": float(nulls),
        "windows.fanout": sum(_state(b, "numRowsUpdated") for b in data)
        / max(1, sum(b["numInputRows"] for b in data)),
        "streaming.batches": float(len(timed)),
        "streaming.trigger_s_p50": median([dur(b, "triggerExecution") for b in data]),
        "streaming.trigger_s_p95": quantile([dur(b, "triggerExecution") for b in data], 0.95),
        "streaming.plan_s": median([dur(b, "queryPlanning") for b in data]),
        "streaming.log_commit_s": median([dur(b, "walCommit", "commitOffsets") for b in data]),
        "streaming.state_commit_s": median([_state(b, "commitTimeMs") / 1000 for b in data]),
        "streaming.state_update_s": median([_state(b, "allUpdatesTimeMs") / 1000 for b in data]),
        "streaming.state_evict_s": median([_state(b, "allRemovalsTimeMs") / 1000 for b in data]),
        "streaming.state_rows": float(max(_state(b, "numRowsTotal") for b in timed)),
        "streaming.state_bytes": float(max(_state(b, "memoryUsedBytes") for b in timed)),
        "streaming.rows_dropped_late": float(dropped),
        "sinks.write_s_p50": median([dur(b, "addBatch") for b in data]),
        "sinks.write_s_p95": quantile([dur(b, "addBatch") for b in data], 0.95),
        "sinks.rows_out": float(rows_out),
        "sinks.view_rows": float(view_rows),
        "topn.rows_out": float(rows_out if isinstance(job, HotItems) else 0),
        "loadgen.lateness_p95_s": quantile([x["landed"] - x["due"] for x in landed], 0.95),
        "host.steal_frac": (drain["steal_frac"] * drain["wall_s"] + openl["steal_frac"] * openl["wall_s"])
        / (drain["wall_s"] + openl["wall_s"]),
    }
    if tracer.enabled:
        layer["parsing.busy_s"] = median(tracer.self_times("parsing"))
        layer["windows.busy_s"] = median(tracer.self_times("windows"))
        layer["topn.busy_s"] = median(tracer.self_times("topn"))
        layer["trace.overhead_frac"] = median(walls[True]) / median(walls[False]) - 1
    layer["timed.drift_frac"] = (
        result["drift"]["latency_p50_late_s"] / result["drift"]["latency_p50_early_s"] - 1
        if result["drift"]["latency_p50_early_s"] else 0.0
    )
    result["layer"] = layer
    if rows_out == 0 or not lats:
        raise RuntimeError("stream emitted no window results in the measured phase")
