"""PageRank invariants (operators/graph.py).  The driver's oracle gate
proves Spark and DuckDB agree on every rank; these pin that the ranks are
RIGHT: hub dominance on a known graph, approximate mass conservation
(integer floors only ever lose mass), and the dangling-node guard."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from test_flink_spark.operators import graph as gr


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src STRING, dst STRING")


def test_hub_outranks_leaves(spark):
    # star: a <-> {b, c, d}; a receives from 3 nodes, leaves from 1
    pairs = []
    for leaf in ("b", "c", "d"):
        pairs += [("a", leaf), (leaf, "a")]
    ranks = {r["node"]: r["rank_fp"] for r in gr.pagerank(_edges(spark, pairs)).collect()}
    assert ranks["a"] > ranks["b"] == ranks["c"] == ranks["d"]


def test_rank_mass_approximately_conserved(spark):
    # ring of 6: perfectly symmetric, every rank should stay ~SCALE
    n = 6
    pairs = []
    for i in range(n):
        j = (i + 1) % n
        pairs += [(f"n{i}", f"n{j}"), (f"n{j}", f"n{i}")]
    df = gr.pagerank(_edges(spark, pairs).distinct())
    total = df.agg(F.sum("rank_fp")).collect()[0][0]
    # integer division only discards mass: total in (0.99 * n * SCALE, n * SCALE]
    assert 0.99 * n * gr.SCALE < total <= n * gr.SCALE
    ranks = [r["rank_fp"] for r in df.collect()]
    assert max(ranks) - min(ranks) <= 1  # symmetry -> equal up to 1 ulp of floor


def test_dangling_nodes_rejected(spark):
    with pytest.raises(ValueError, match="out-degree 0"):
        gr.pagerank(_edges(spark, [("a", "b")]))  # b never emits


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge must resolve to two
    communities (each labeled by its minimum member), with the bridge
    endpoints keeping their own clique's label."""
    from test_flink_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = spark.createDataFrame(c1 + c2 + [(4, 10)], "a INT, b INT")
    out = {r["node"]: r["community"] for r in label_propagation(edges, 3).collect()}
    assert {out[n] for n in (1, 2, 3, 4)} == {1}
    assert {out[n] for n in (10, 11, 12, 13)} == {10}


def test_label_propagation_deterministic_tiebreak(spark):
    """A 2-path (1-2, 2-3): node 2 sees labels {1, 3} plus its own {2} —
    one vote each, min-label tie-break must pick 1 every run."""
    from test_flink_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(1, 2), (2, 3)], "a INT, b INT")
    for _ in range(2):
        out = {
            r["node"]: r["community"]
            for r in label_propagation(edges, 1).collect()
        }
        assert out[2] == 1
        assert out[1] == 1  # sees {2} + self {1}: tie -> 1


def test_pins_scope_spares_foreign_caches(spark):
    """A scope releases ONLY the pins taken through it: each pin records
    its checkpointed Dataset's own RDD id, so a cache that registers
    during a checkpoint job (a lazy ``.cache()`` first materialized by
    it) is not taken, and survives both a superseded generation's release
    and the scope's exit."""
    from pyspark.sql import functions as F

    from test_flink_spark.session import pin, pins

    jmap = spark.sparkContext._jsc.getPersistentRDDs
    foreign = spark.range(100).select(F.col("id").alias("n")).cache()
    with pins() as p:
        before = set(jmap().keySet().toArray())
        out1 = pin(spark.range(1000).toDF("id"))
        gen1 = set(jmap().keySet().toArray()) - before
        assert len(gen1) == 1, "must record exactly the checkpointed RDD"
        foreign.count()  # foreign cache registers between generations
        foreign_ids = set(jmap().keySet().toArray()) - before - gen1
        assert foreign_ids, "foreign cache should be registered"
        out2 = pin(out1.withColumn("v", F.col("id") + 1))
        p.release(out1)
        assert out2.count() == 1000
        live = set(jmap().keySet().toArray())
        assert foreign_ids <= live, "foreign cache was taken by the scope"
        assert not (gen1 & live), "prior generation must be freed"
        gen2 = live - before - foreign_ids
        assert len(gen2) == 1 and gen2.isdisjoint(gen1)
    live = set(jmap().keySet().toArray())
    assert foreign_ids <= live, "foreign cache was released by the scope"
    assert not (gen2 & live), "the scope must release its pins on exit"
    foreign.unpersist()


def _ring(spark, n):
    """Directed ring both ways: every node has out-degree 2."""
    pairs = []
    for i in range(n):
        pairs += [(i, (i + 1) % n), ((i + 1) % n, i)]
    return spark.createDataFrame(pairs, "src LONG, dst LONG")


_CHAIN = [5, 2, 7, 0, 8, 3, 6, 1, 4]  # shuffled ids: several label rounds


@pytest.mark.parametrize(
    "name, run, bound",
    [
        ("pagerank", lambda s: gr.pagerank(_ring(s, 6), iterations=5), 2),
        (
            "personalized_pagerank",
            lambda s: gr.personalized_pagerank(
                _ring(s, 6), s.createDataFrame([(0,)], "node LONG"), iterations=5
            ),
            2,
        ),
        (
            "label_propagation",
            lambda s: gr.label_propagation(
                _ring(s, 6).toDF("a", "b"), iterations=4
            ),
            2,
        ),
        (
            "bfs_distances",
            lambda s: gr.bfs_distances(
                _ring(s, 12), s.createDataFrame([(0,)], "node LONG"), max_hops=4
            ),
            2,
        ),
        ("kcore_peel", lambda s: gr.kcore_peel(_ring(s, 6), k=2, rounds=4), 2),
        # two score tables: the other table's live generation rides along
        ("hits", lambda s: gr.hits(_ring(s, 6), iterations=3), 3),
        # the pinned edge list stays live through every round
        (
            "min_label_components",
            lambda s: gr.min_label_components(
                s.createDataFrame(
                    list(zip(_CHAIN, _CHAIN[1:])), "id_a LONG, id_b LONG"
                ),
                s.range(9).toDF("id"),
                "id",
                max_iter=8,
            ),
            3,
        ),
    ],
)
def test_iterative_loops_hold_two_generations(spark, monkeypatch, name, run, bound):
    """Each loop releases its superseded generation once the next one is
    pinned, so the pins live at any time stay constant in the number of
    rounds: 2 generations of a rank/label/distance/edge table (3 where a
    second pinned table is live alongside)."""
    from test_flink_spark import session

    jmap = spark.sparkContext._jsc.getPersistentRDDs
    taken, peak = [], [0]

    def counting_pin(df):
        out = session.pin(df)
        taken.append(session._rdd_key(out)[1])
        live = set(jmap().keySet().toArray())
        peak[0] = max(peak[0], sum(i in live for i in taken))
        return out

    monkeypatch.setattr(gr, "pin", counting_pin)
    with session.pins():
        run(spark).collect()
    assert len(taken) >= 3, f"{name}: expected one pin per round"
    assert peak[0] <= bound, (
        f"{name}: {peak[0]} of its {len(taken)} pins were live at once"
    )


def test_supplier_jaccard_exact_on_tiny_graph(spark, tmp_path):
    """Suppliers with identical customer sets score 10000 bp; a supplier
    covering 1 of the other's 3 customers scores floor(1/3 * 10000)."""
    from test_flink_spark.plans.advanced import graph_supplier_jaccard

    orders = [(k, k) for k in (1, 2, 3)]  # o_orderkey == o_custkey
    spark.createDataFrame(
        orders, "o_orderkey LONG, o_custkey LONG"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    # supplier 10 and 11 sell to all three customers; 12 to custs 1 and 2
    # (two shared customers — the n_co >= 2 support floor keeps the pair)
    li = [(c, s) for c in (1, 2, 3) for s in (10, 11)] + [(1, 12), (2, 12)]
    spark.createDataFrame(
        li, "l_orderkey LONG, l_suppkey LONG"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    rows = graph_supplier_jaccard(spark, str(tmp_path)).collect()
    by_pair = {(r["supplier"], r["neighbor"]): r for r in rows}
    assert by_pair[(10, 11)]["jaccard_bp"] == 10000
    assert by_pair[(11, 10)]["rank"] == 1
    # (10, 12): n_co=2, degrees 3 and 2 -> 2/3
    assert by_pair[(10, 12)]["jaccard_bp"] == 6666


def test_hits_bipartite_roles_and_normalization(spark):
    # s1 feeds {c1, c2, c3}; s2 feeds {c1} only: s1 is the stronger hub,
    # and c1 (fed by both) the stronger authority.  Max-renorm pins the
    # best of each role at exactly SCALE.
    pairs = [("s1", "c1"), ("s1", "c2"), ("s1", "c3"), ("s2", "c1")]
    out = gr.hits(_edges(spark, pairs), iterations=2).collect()
    hubs = {r["node"]: r["score_fp"] for r in out if r["role"] == "hub"}
    auth = {r["node"]: r["score_fp"] for r in out if r["role"] == "authority"}
    assert set(hubs) == {"s1", "s2"} and set(auth) == {"c1", "c2", "c3"}
    assert hubs["s1"] == gr.SCALE and hubs["s2"] < gr.SCALE
    assert auth["c1"] == gr.SCALE and auth["c2"] < gr.SCALE
    assert auth["c2"] == auth["c3"]  # symmetric leaves tie exactly


def test_min_label_components_chain_converges(spark):
    # a 40-node chain needs 39 one-hop rounds but only ~6 with the
    # pointer jump — max_iter=8 converging proves the doubling works
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a LONG, id_b LONG"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node LONG")
    out = gr.min_label_components(pairs, nodes, "node", max_iter=8)
    labels = {r["node"]: r["cluster_id"] for r in out.collect()}
    assert set(labels.values()) == {0}  # one component, min id 0


def test_min_label_components_isolated_nodes_self_label(spark):
    pairs = spark.createDataFrame([(10, 11)], "id_a LONG, id_b LONG")
    nodes = spark.createDataFrame([(10,), (11,), (99,)], "node LONG")
    labels = {
        r["node"]: r["cluster_id"]
        for r in gr.min_label_components(pairs, nodes, "node").collect()
    }
    assert labels == {10: 10, 11: 10, 99: 99}


def _union_find_min(node_ids, pairs):
    """Pure-Python reference: the smallest id of each node's component."""
    parent = {v: v for v in node_ids if v is not None}
    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _random_graph(seed):
    """Cliques of 2-7 nodes, stars, a 40-node chain, and isolated nodes
    over shuffled ids, so no component's minimum sits at a fixed spot;
    pairs come in both orientations and some twice."""
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(1, 10**6), 160)
    take = iter(ids)
    pairs = []
    for size in range(2, 8):
        members = [next(take) for _ in range(size)]
        pairs += [(a, b) for i, a in enumerate(members) for b in members[i + 1:]]
    for _ in range(3):
        hub, leaves = next(take), [next(take) for _ in range(rng.randint(2, 9))]
        pairs += [(hub, leaf) for leaf in leaves]
    chain = [next(take) for _ in range(40)]
    pairs += list(zip(chain, chain[1:]))
    pairs = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in pairs]
    pairs += rng.sample(pairs, 10)
    rng.shuffle(pairs)
    return list(take), pairs


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_min_label_components_matches_union_find(spark, seed):
    """Exact against a union-find on seeded random graphs: every node row
    (duplicate and null ids included) gets its component's minimum id,
    and the output schema keeps the id type."""
    isolated, pairs = _random_graph(seed)
    node_ids = sorted({v for p in pairs for v in p}) + isolated
    node_ids += node_ids[:3] + [None]  # duplicate and null rows keep their rows
    want_min = _union_find_min(node_ids, pairs)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        # a chain with shuffled ids may need one neighbour-min per hop
        out = gr.min_label_components(
            spark.createDataFrame(pairs, "id_a LONG, id_b LONG"),
            spark.createDataFrame([(v,) for v in node_ids], "node LONG"),
            "node",
            max_iter=40,
        )
    assert out.schema.simpleString() == "struct<node:bigint,cluster_id:bigint>"
    got = [(r["node"], r["cluster_id"]) for r in out.collect()]
    want = [(v, want_min.get(v)) for v in node_ids]
    null_first = lambda t: (t[0] is not None, t)  # noqa: E731
    assert sorted(got, key=null_first) == sorted(want, key=null_first)


def test_min_label_components_int_ids_and_empty_pairs(spark):
    nodes = spark.createDataFrame([(5,), (3,), (9,), (4,)], "item INT")
    pairs = spark.createDataFrame([(9, 3), (3, 9), (4, 9)], "id_a INT, id_b INT")
    out = gr.min_label_components(pairs, nodes, "item")
    assert out.schema.simpleString() == "struct<item:int,cluster_id:bigint>"
    assert {(r[0], r[1]) for r in out.collect()} == {(5, 5), (3, 3), (9, 3), (4, 3)}
    empty = spark.createDataFrame([], "id_a INT, id_b INT")
    out = gr.min_label_components(empty, nodes, "item")
    assert out.schema.simpleString() == "struct<item:int,cluster_id:bigint>"
    assert {(r[0], r[1]) for r in out.collect()} == {(5, 5), (3, 3), (9, 9), (4, 4)}


def test_min_label_components_warns_short_of_fixpoint(spark):
    # the 40-node chain needs about 6 neighbour-min steps with the jump
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id_a LONG, id_b LONG"
    )
    nodes = spark.createDataFrame([(i,) for i in range(40)], "node LONG")
    with pytest.warns(RuntimeWarning, match="did not converge"):
        gr.min_label_components(pairs, nodes, "node", max_iter=2)


def test_min_label_components_leaves_one_pin_per_call(spark):
    """Each call pins exactly its result.  Compared as id sets: pins of
    earlier tests may be cleaned meanwhile."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a LONG, id_b LONG")
    nodes = spark.createDataFrame([(i,) for i in range(1, 10)], "node LONG")
    before = set(jmap().keySet().toArray())
    outs = []  # referenced, so no cleaner frees a result mid-test
    for k in range(1, 4):
        outs.append(gr.min_label_components(pairs, nodes, "node"))
        assert len(set(jmap().keySet().toArray()) - before) == k


# Spark jobs of one call on a graph that converges in one round.  The
# seed-aggregate, edge-pinned loop runs 9 at local[4]; the join-seeded loop
# over a cached edge list ran 26, and this loop with a cached edge list 17.
# Raise this bound only with a job count that shows why.
CC_JOBS_MAX = 9


def test_min_label_components_job_count(spark):
    sc = spark.sparkContext
    cliques = [list(range(s, s + n)) for s, n in ((10, 4), (20, 3), (30, 2))]
    pairs = spark.createDataFrame(
        [(a, b) for c in cliques for i, a in enumerate(c) for b in c[i + 1:]]
        + [(40, 41), (40, 42), (40, 43)],
        "id_a LONG, id_b LONG",
    )
    nodes = spark.createDataFrame([(i,) for i in range(10, 50)], "node LONG")
    want = _union_find_min(range(10, 50), pairs.collect())
    group = "test_min_label_components_job_count"
    sc.setJobGroup(group, group)
    try:
        out = gr.min_label_components(pairs, nodes, "node")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert {r["node"]: r["cluster_id"] for r in out.collect()} == want
    assert n_jobs <= CC_JOBS_MAX, f"{n_jobs} Spark jobs in one call"


def _write_bipartite(spark, tmp_path, orders, lineitem):
    spark.createDataFrame(
        orders or [(None, None)], "o_orderkey LONG, o_custkey LONG"
    ).filter("o_orderkey IS NOT NULL").write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    spark.createDataFrame(
        lineitem or [(None, None)], "l_orderkey LONG, l_suppkey LONG"
    ).filter("l_orderkey IS NOT NULL").write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )


def test_assortativity_empty_pairs_returns_null_r2(spark, tmp_path):
    """r10 ADVICE: with zero supplier-customer pairs the moment SUMs are
    NULL; the scalar finish must return (0, NULL) like the oracle's CASE,
    not raise TypeError on int(None)."""
    from test_flink_spark.plans.advanced import graph_degree_assortativity

    _write_bipartite(spark, tmp_path, [], [])
    rows = graph_degree_assortativity(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0]["m"] == 0 and rows[0]["signed_r2_milli"] is None


def test_assortativity_tiny_graph_matches_python_replay(spark, tmp_path):
    from test_flink_spark.plans.advanced import graph_degree_assortativity

    # S10-C1, S10-C2, S11-C1 (o_orderkey==o_custkey keys the join)
    _write_bipartite(
        spark,
        tmp_path,
        [(1, 1), (2, 2)],
        [(1, 10), (2, 10), (1, 11)],
    )
    # python replay of the documented statistic (quantized by 10**6)
    edges = [("S10", "C1"), ("S10", "C2"), ("S11", "C1")]
    und = edges + [(b, a) for a, b in edges]
    deg = {}
    for a, _ in und:
        deg[a] = deg.get(a, 0) + 1
    xy = [(deg[a], deg[b]) for a, b in und]
    m = len(xy)
    sx = sum(x for x, _ in xy)
    sy = sum(y for _, y in xy)
    sxy = sum(x * y for x, y in xy)
    sxx = sum(x * x for x, _ in xy)
    syy = sum(y * y for _, y in xy)
    c = m * sxy - sx * sy
    q = 10**6
    cq, dxq, dyq = abs(c) // q, (m * sxx - sx * sx) // q, (m * syy - sy * sy) // q
    want = None
    if dxq > 0 and dyq > 0:
        want = (-1 if c < 0 else 1) * ((cq * cq * 1000) // (dxq * dyq))
    row = graph_degree_assortativity(spark, str(tmp_path)).collect()[0]
    assert row["m"] == m and row["signed_r2_milli"] == want
