"""corpus_curation_batch: plans.llm_data.corpus_curation_pipeline (quality
filter, then near-duplicate canonicalization) run as a series of jobs in
one session.  Each job lands one seeded shard (an atomic directory rename),
runs the pipeline, and writes the curated rows with sinks.files.write_parquet.
Between jobs the session-memo caches are released so every job pays for its
own dedup and the peak memory holds no checkpoints pinned by earlier jobs."""

from __future__ import annotations

import os
import time

from common import Meter, median, peak_rss_mb, process_tree, quantile

# Counted in jobs, not seconds, so both commits of a comparison run the
# same shards through the same JIT history.
WARMUP_JOBS = 3
TIMED_JOBS = 3


def _release():
    from test_flink_spark.plans import llm_data

    llm_data.release_pinned_cache(llm_data._CLUSTERS_CACHE)
    llm_data.release_pinned_cache(llm_data._PAIR_BASE_CACHE)


def _job(spark, shard_dir, out_dir):
    from test_flink_spark.plans.llm_data import corpus_curation_pipeline
    from test_flink_spark.sinks.files import write_parquet

    write_parquet(corpus_curation_pipeline(spark, shard_dir), out_dir)


def _trace_layers(spark, shard_dir, tracer, unit, parent, counts):
    """Each operator of the pipeline, called on the shard and materialized at
    its boundary, so its span covers its own work."""
    from pyspark.sql import functions as F

    from test_flink_spark.operators.dedup import ngram_jaccard_pairs
    from test_flink_spark.operators.graph import min_label_components
    from test_flink_spark.operators.text import quality_scores

    docs = spark.read.parquet(os.path.join(shard_dir, "documents.parquet"))
    with tracer.span("text", unit, parent):
        quality_scores(docs).write.format("noop").mode("overwrite").save()
    with tracer.span("dedup", unit, parent):
        # threshold 0 keeps every candidate pair (any shared shingle)
        cand = ngram_jaccard_pairs(docs, threshold=0.0).localCheckpoint(eager=True)
    n_cand = cand.count()
    kept = cand.filter(F.col("jaccard") >= 0.5)
    n_kept = kept.count()
    with tracer.span("graph", unit, parent):
        clusters = min_label_components(kept, docs.select("doc_id"), "doc_id")
    n_clusters = clusters.select("cluster_id").distinct().count()
    counts["candidate_pairs"].append(n_cand)
    counts["pairs_kept"].append(n_kept)
    counts["clusters"].append(n_clusters)


def check(shard_dir, out_dir) -> bool:
    """The job's rows equal the DuckDB oracle's over the same shard."""
    import duckdb
    import pyarrow.parquet as pq

    from test_flink_spark.plans.llm_data import ORACLES

    con = duckdb.connect()
    try:
        path = os.path.join(shard_dir, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        exp = sorted(con.execute(ORACLES["corpus_curation_pipeline"]).fetchall())
    finally:
        con.close()
    got = sorted(
        (r["doc_id"], r["n_tokens"], r["distinct_ratio"])
        for r in pq.read_table(out_dir).to_pylist()
    )
    return len(exp) == len(got) and all(
        a[0] == b[0] and a[1] == b[1] and abs(a[2] - b[2]) < 1e-9 for a, b in zip(exp, got)
    )


def run(cfg: dict, tracer, result: dict, spark) -> None:
    work = cfg["work"]
    stage, land, out = (os.path.join(work, d) for d in ("stage", "land", "out"))
    os.makedirs(land, exist_ok=True)
    shards = sorted(os.listdir(stage), key=int)
    docs_per = cfg["docs_per_shard"]

    def job(i, traced_unit=None, parent=None, counts=None):
        name = shards[i]
        t_land = time.time()
        os.rename(os.path.join(stage, name), os.path.join(land, name))
        shard_dir = os.path.join(land, name)
        if traced_unit is not None:
            _trace_layers(spark, shard_dir, tracer, traced_unit, parent, counts)
        with tracer.span("curation", traced_unit if traced_unit is not None else -1, parent):
            _job(spark, shard_dir, os.path.join(out, name))
        t_done = time.time()
        _release()
        return t_done - t_land

    marks = result.setdefault("phase_s", {})
    t_phase = time.time()
    ran = []  # shard indexes run, warm-up included
    for i in range(WARMUP_JOBS):
        marks.setdefault("warmup_jobs", []).append(job(i))
        ran.append(i)
    marks["warmup"] = time.time() - t_phase

    meter = Meter()
    t_start = time.time()
    lats, cpus, walls = [], [], {True: [], False: []}
    counts = {"candidate_pairs": [], "pairs_kept": [], "clusters": []}
    for i in range(WARMUP_JOBS, WARMUP_JOBS + TIMED_JOBS):
        traced = tracer.enabled and (i - WARMUP_JOBS) % 2 == 0
        t0, job_meter = time.time(), Meter()
        with tracer.span("job", i if traced else -1) as root:
            lat = job(i, i if traced else None, root.id, counts)
        walls[traced].append(time.time() - t0)
        cpus.append(job_meter.stop()["cpu_s"])
        lats.append(lat)
        ran.append(i)
    wall = time.time() - t_start
    m = meter.stop()
    result["peak_rss_mb"] = peak_rss_mb(process_tree(os.getpid()))
    marks["timed"], t_phase = wall, time.time()

    # output check (untimed): every job, warm-up included
    failed = sum(
        not check(os.path.join(land, shards[k]), os.path.join(out, shards[k])) for k in ran
    )
    result.update(attempted=len(ran), failed=failed)
    marks["check"] = time.time() - t_phase

    n_docs = len(lats) * docs_per
    result["e2e"] = {
        "throughput_rps": n_docs / wall,
        "latency_p50_s": median(lats),
        "latency_p95_s": quantile(lats, 0.95),
        # median over jobs: one job's GC or JIT burst does not move it
        "cpu_s_per_krec": median(cpus) / (docs_per / 1000),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    h = len(lats) // 2
    result["drift"] = {"job_s_early": median(lats[:h]), "job_s_late": median(lats[h:])}
    result["samples"] = {"latency": len(lats)}
    import pyarrow.parquet as pq

    kept_docs = sum(pq.read_table(os.path.join(out, shards[k])).num_rows for k in ran[WARMUP_JOBS:])
    layer = {
        "curation.docs_in": float(n_docs),
        "curation.docs_kept": float(kept_docs),
        "host.steal_frac": m["steal_frac"],
        "timed.drift_frac": result["drift"]["job_s_late"] / result["drift"]["job_s_early"] - 1,
    }
    if tracer.enabled:
        cand, kept = sum(counts["candidate_pairs"]), sum(counts["pairs_kept"])
        layer.update({
            "text.busy_s": median(tracer.self_times("text")),
            "dedup.busy_s": median(tracer.self_times("dedup")),
            "dedup.candidate_pairs": float(cand),
            "dedup.pairs_kept": float(kept),
            "dedup.pair_yield": kept / cand if cand else 0.0,
            "graph.busy_s": median(tracer.self_times("graph")),
            "graph.clusters": float(sum(counts["clusters"])),
            "trace.overhead_frac": median(walls[True]) / median(walls[False]) - 1,
        })
    result["layer"] = layer
