"""Iterative graph analytics: fixed-point PageRank over a DataFrame edge
list, with a bit-exact unrolled-CTE DuckDB oracle.

Besides connected components (``min_label_components``), PageRank adds
the weighted-influence shape: rank mass flows along edges, damped, for a
FIXED number of power iterations.  Fixed iteration count is
the differential-testing move (the same one IVF training uses for k-means,
ivf.py): convergence-threshold loops are float-order-sensitive, but N
unrolled integer iterations replay exactly in SQL.

Determinism: ranks are int64 fixed-point (SCALE = 1e12 per unit rank).
Each iteration is
    contrib(v)  = rank(v) div out_deg(v)          -- integer division
    rank'(u)    = floor(0.15 * SCALE) + (85 * sum contrib(in(u))) div 100
Integer division discards remainders identically in Spark (`div`) and
DuckDB (`//`); the sum is an exact integer sum.  Headroom: sum of all
contribs <= total rank ~ N * SCALE; times 85 stays under int64 for
N < ~10^5 nodes at SCALE 1e12 — callers with bigger graphs drop SCALE
(the estimator is relative).  No dangling-node term: callers must supply
edge lists where every node has out-degree >= 1 (the registered query
symmetrizes a bipartite graph, which guarantees it); pagerank() raises
otherwise rather than silently leaking rank mass.

Scale shape (100 TB): the edge list is the big table; ranks are O(nodes).
Each iteration is one equi-join ranks->edges on src (co-partitionable by
bucketing both on the node key; AQE splits skewed hubs) and one groupBy
dst with map-side partial sums.  Iterations are a fixed small constant,
and each intermediate rank table is pinned (``session.pin``) so the
final plan is 1 join deep, not iterations-deep (the dedup_clusters
lineage-truncation lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import persist, pin, pins

SCALE = 10**12
DAMP_NUM = 85  # damping 0.85 as an exact integer percentage
BASE = (100 - DAMP_NUM) * SCALE // 100  # floor(0.15 * SCALE)


def symmetrize_edges(
    df: DataFrame, a_col: str = "s", b_col: str = "c",
    src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Both directions of an undirected edge list in ONE pass: explode a
    two-element struct array instead of unioning two selects over the
    (often expensive — fact-fact join + distinct) base relation, which
    executes the base subtree once per branch.  Row multiset identical to
    ``base.select(a->src,b->dst).unionAll(base.select(b->src,a->dst))``;
    the cache-fill pass of every iterative consumer (pagerank/kcore/ppr/
    hits symmetrized inputs) halves (guide §2.4)."""
    return df.select(
        F.explode(
            F.array(
                F.struct(F.col(a_col).alias(src), F.col(b_col).alias(dst)),
                F.struct(F.col(b_col).alias(src), F.col(a_col).alias(dst)),
            )
        ).alias("e")
    ).select(f"e.{src}", f"e.{dst}")


def pagerank(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """PageRank over ``edges(src, dst)`` (pre-deduplicated, every node with
    out-degree >= 1): returns ``(node, rank_fp)`` with rank in SCALE
    fixed-point units (initial rank = 1.0 per node = SCALE).

    The edge table is hash-partitioned on ``src`` BEFORE caching: the
    cached InMemoryRelation preserves that outputPartitioning, so every
    iteration's ranks->edges equi-join exchanges only the O(nodes) contrib
    table while the edge table never re-shuffles, and deg/nodes (groupBy/
    distinct on src) reuse it too.  MEASURED (sf0.1 trade graph, 1.17 M
    edges, local[32]): ~1.0 s/iteration vs 3.2 s with an unpartitioned
    cache and 1.3-1.7 s with broadcast-hinted contribs — and unlike the
    broadcast hint, co-partitioning stays correct when nodes outgrow one
    executor's memory (billion-node graphs)."""
    with pins() as p:
        edges = persist(edges.repartition(F.col("src")))
        deg = persist(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
        # Dangling check by COUNT, not anti-join: deg.src ⊆ nodes always, so
        # |deg| == |nodes| ⇔ every node has out-degree >= 1.  Two counts over
        # cached/tiny relations replace a left_anti join job.
        n_nodes = (
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .distinct()
            .count()
        )
        n_out = deg.count()
        if n_out < n_nodes:
            raise ValueError(
                f"{n_nodes - n_out} node(s) have out-degree 0 — symmetrize the "
                "edge list or add self-loops; this operator has no "
                "dangling-mass term"
            )
        # out-degree rides along with the rank so each iteration is ONE join
        # against the edge list (ranks ⋈ edges on src) plus ONE join of the
        # inflow back onto the rank table — and the init needs NO join at
        # all: after the dangling check, deg's key set IS the node set, so
        # deg itself seeds the rank table.
        ranks = deg.select(
            F.col("src").alias("node"),
            F.lit(SCALE).cast("long").alias("rank_fp"),
            "deg",
        )
        for _ in range(iterations):
            # shuffle_hash hints (MEASURED, sf0.1 warm: 2.7 s vs 3.4 s for
            # the 5-iteration loop): the cached edge relation preserves its
            # hash PARTITIONING but not sort order, so sort-merge join would
            # re-sort all O(edges) rows EVERY iteration; hashing the small
            # side instead streams edges unsorted.  Scale-safe, unlike a
            # broadcast: the build side is one shuffle partition's slice of
            # the O(nodes) contrib table — it shrinks as partitions are
            # added, and nothing is replicated to every executor.
            contribs = ranks.select(
                F.col("node").alias("src"),
                F.expr("rank_fp div deg").alias("contrib"),
            ).hint("shuffle_hash")
            inbound = (
                edges.join(contribs, "src")
                .groupBy("dst")
                .agg(F.sum("contrib").alias("inflow"))
            ).hint("shuffle_hash")
            # eager checkpoint, not cache()+count(): both materialize, but
            # only the checkpoint truncates the LOGICAL plan — explain() on
            # a cached iteration still prints the full nested lineage
            # (thousands of phantom exchanges in the audit), while the
            # checkpointed plan is 1 iteration deep for planner and reader
            # alike.  The superseded generation is released; lifetimes:
            # docs/DESIGN_DECISIONS.md, "Pin ownership".
            prev, ranks = ranks, pin(
                ranks.join(inbound, ranks.node == inbound.dst, "left")
                .select(
                    "node",
                    (
                        F.lit(BASE).cast("long")
                        + F.expr(f"({DAMP_NUM} * coalesce(inflow, 0)) div 100")
                    ).alias("rank_fp"),
                    "deg",
                )
            )
            p.release(prev)
        return p.returning(ranks).select("node", "rank_fp")


def pagerank_oracle_cte(edges_sql: str, iterations: int = 5) -> str:
    """Unrolled-CTE replay of ``pagerank`` (same fixed-point arithmetic).
    ``edges_sql`` must select columns (src, dst), deduplicated.  Returns
    the CTE body; the caller appends its own final SELECT over ``r{N}``."""
    parts = [
        f"edges AS ({edges_sql})",
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src)",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"r0 AS (SELECT node, {SCALE}::BIGINT AS rank_fp FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""r{i} AS (
  SELECT n.node,
         ({BASE}::BIGINT + ({DAMP_NUM} * COALESCE(s.inflow, 0)) // 100)::BIGINT
           AS rank_fp
  FROM nodes n LEFT JOIN (
    SELECT e.dst, SUM(r.rank_fp // d.deg) AS inflow
    FROM edges e
    JOIN r{i - 1} r ON r.node = e.src
    JOIN deg d ON d.node = e.src
    GROUP BY e.dst
  ) s ON s.dst = n.node
)"""
        )
    return ",\n".join(parts)


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Synchronous label-propagation communities over a canonical
    undirected edge list ``(a, b)``: every node starts as its own label;
    each iteration every node adopts the most frequent label among its
    neighbors PLUS its own current label (the self-vote damps the 2-cycle
    oscillation plain LPA exhibits on bipartite-ish structures), ties
    broken by smallest label.  A FIXED iteration count + total ordering
    makes the result engine-replayable (the pagerank/IVF discipline) —
    convergence-threshold LPA is run-order-sensitive and untestable.

    Returns ``(node, community)``.  Scale shape: per iteration, one
    equi-join of the symmetrized edge list against the O(nodes) label
    table + one (node, label) groupBy with map-side partials + one
    per-node argmax window — all keyed on the node, co-partitionable;
    intermediates are pinned so lineage stays 1 iteration deep."""
    from pyspark.sql import Window

    with pins() as p:
        sym = persist(
            edges.select(F.col("a").alias("v"), F.col("b").alias("nb"))
            .unionAll(edges.select(F.col("b").alias("v"), F.col("a").alias("nb")))
        )
        nodes = persist(sym.select("v").distinct())
        labels = nodes.select("v", F.col("v").alias("community"))
        w = Window.partitionBy("v").orderBy(
            F.col("n").desc(), F.col("community").asc()
        )
        for _ in range(iterations):
            nb_votes = (
                sym.join(
                    labels.select(F.col("v").alias("nb"), "community"), "nb"
                ).select("v", "community")
            )
            votes = nb_votes.unionAll(labels.select("v", "community"))
            counted = votes.groupBy("v", "community").agg(
                F.count(F.lit(1)).alias("n")
            )
            # the pin truncates logical lineage
            prev, labels = labels, pin(
                counted.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("v", "community")
            )
            p.release(prev)
        return p.returning(labels).select(F.col("v").alias("node"), "community")


def label_propagation_oracle_cte(edges_sql: str, iterations: int = 3) -> str:
    """Unrolled-CTE replay of ``label_propagation`` — identical vote set
    (neighbors + self), count ordering, and min-label tie-break.
    ``edges_sql`` must select canonical (a, b).  Caller appends a SELECT
    over ``l{N}(v, community)``."""
    parts = [
        f"lp_edges AS ({edges_sql})",
        "lp_sym AS (SELECT a AS v, b AS nb FROM lp_edges"
        " UNION ALL SELECT b AS v, a AS nb FROM lp_edges)",
        "l0 AS (SELECT DISTINCT v, v AS community FROM lp_sym)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""l{i} AS (
  SELECT v, community FROM (
    SELECT v, community,
           ROW_NUMBER() OVER (PARTITION BY v
                              ORDER BY n DESC, community ASC) AS rn
    FROM (
      SELECT v, community, COUNT(*) AS n FROM (
        SELECT s.v, l.community
        FROM lp_sym s JOIN l{i - 1} l ON l.v = s.nb
        UNION ALL
        SELECT v, community FROM l{i - 1}
      ) GROUP BY v, community
    )
  ) WHERE rn = 1
)"""
        )
    return ",\n".join(parts)


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Multi-source BFS over ``edges(src, dst)``: shortest hop-distance
    from ANY seed, capped at ``max_hops`` — the traversal member of the
    graph family (reachability / blast-radius queries), alongside
    PageRank (influence), LPA (communities) and min-label CC (dedup
    clusters).

    Fixed-iteration discipline (the PageRank/IVF rule): exactly
    ``max_hops`` relaxation rounds, each ONE equi-join of the frontier
    against the edge list + a min-aggregate merge — so the oracle
    replays it as an unrolled CTE chain, and unreached nodes simply
    don't appear (no sentinel distances).  Pinned generations bound
    lineage exactly as in pagerank.

    Scale: per round the exchange carries (node, dist) pairs; the edge
    list is hash-partitioned on src once and reused (cached) across
    rounds.  Frontier-only expansion (joining just the nodes whose
    distance improved) is the classic refinement — omitted here because
    the merge already prunes non-improvements and the fixed K is small;
    the plan stays one join + one groupBy per round either way."""
    with pins() as p:
        edges = persist(edges.repartition(F.col("src")))
        dist = seeds.select(F.col("node"), F.lit(0).cast("long").alias("d"))
        for _ in range(max_hops):
            # shuffle_hash for the same reason as the pagerank loop: the
            # cached edge partitioning survives but its sort order doesn't,
            # and hashing the O(reached-nodes) frontier slice beats
            # re-sorting O(edges) rows every round.
            reached = (
                edges.join(
                    dist.withColumnRenamed("node", "src").hint("shuffle_hash"),
                    "src",
                )
                .select(F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
            )
            prev, dist = dist, pin(
                dist.unionByName(reached)
                .groupBy("node")
                .agg(F.min("d").alias("d"))
            )
            p.release(prev)
        return p.returning(dist).select("node", F.col("d").alias("hops"))


def bfs_oracle_cte(edges_sql: str, seeds_sql: str, max_hops: int = 4) -> str:
    """Unrolled-CTE replay of ``bfs_distances``; the caller appends a
    final SELECT over ``d{max_hops}``."""
    parts = [
        f"edges AS ({edges_sql})",
        f"d0 AS (SELECT node, 0::BIGINT AS d FROM ({seeds_sql}))",
    ]
    for i in range(1, max_hops + 1):
        parts.append(
            f"""d{i} AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node, p.d + 1 AS d
    FROM edges e JOIN d{i - 1} p ON p.node = e.src
  ) GROUP BY node
)"""
        )
    return ",\n".join(parts)


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """k-core peeling over a SYMMETRIZED ``edges(src, dst)`` list: each
    round drops every node of degree < ``k`` and the edges touching it —
    after enough rounds the survivors are exactly the k-core (the
    density-cohesion member of the graph family: influence/communities/
    clusters/traversal, and now cohesion).  Fixed ``rounds`` rather than
    loop-to-fixpoint, per the house differential-testing rule (pagerank/
    IVF/BFS): N unrolled rounds replay exactly as a CTE chain, while a
    convergence loop does not.  The emitted per-round curve makes the
    cap honest — if round N still shrinks, the caller sees it.

    Because the edge list is symmetrized, degree(node) = COUNT(*) of its
    src rows — one groupBy, no union of endpoints.  Survivor filtering is
    two equi-joins against the (distinct-key) alive set: semi-join
    semantics on the shuffle-hash fast path, never a broadcast of a
    relation that shrinks with DATA only (alive is O(nodes)).  Pinned
    generations bound lineage exactly as in pagerank.

    Returns (round, n_nodes, n_edges): one row per peel round, counts
    AFTER that round's peel."""
    with pins() as p:
        edges = persist(edges.repartition(F.col("src")))
        cur = edges
        per_round = []
        for i in range(1, rounds + 1):
            alive = (
                cur.groupBy("src")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= k)
                .select("src")
            )
            prev, cur = cur, pin(
                cur.join(alive.hint("shuffle_hash"), "src")
                .join(
                    alive.withColumnRenamed("src", "dst").hint("shuffle_hash"),
                    "dst",
                )
                .select("src", "dst")
            )
            p.release(prev)
            # Eager 1-row collect per round: the previous generation is
            # released above, so a lazily-evaluated round-1 stats frame would
            # read freed blocks at final-union time.  The counts
            # are O(rounds) metadata — collecting them is the same bounded-
            # collect class as the prefix-sum offset map.
            row = cur.agg(
                F.countDistinct("src").alias("n_nodes"),
                F.count(F.lit(1)).alias("n_edges"),
            ).collect()[0]
            per_round.append((i, int(row["n_nodes"]), int(row["n_edges"])))
        return edges.sparkSession.createDataFrame(
            per_round, "round long, n_nodes long, n_edges long"
        )


def kcore_oracle_cte(edges_sql: str, k: int = 3, rounds: int = 3) -> str:
    """Unrolled-CTE replay of ``kcore_peel``; the caller appends a final
    SELECT unioning the per-round stats over ``e1..e{rounds}``."""
    parts = [f"e0 AS ({edges_sql})"]
    for i in range(1, rounds + 1):
        parts.append(
            f"""a{i} AS (
  SELECT src AS node FROM e{i - 1} GROUP BY src HAVING COUNT(*) >= {k}
),
e{i} AS (
  SELECT e.src, e.dst FROM e{i - 1} e
  JOIN a{i} s ON e.src = s.node
  JOIN a{i} t ON e.dst = t.node
)"""
        )
    return ",\n".join(parts)


def min_label_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str,
    max_iter: int = 15,
    warn_name: str = "min_label_components",
) -> DataFrame:
    """Connected components by min-label propagation over an undirected
    pair list ``(id_a, id_b)``: each row of ``nodes`` gets ``cluster_id``
    (bigint) = the smallest id it reaches, its own if isolated; ``id_col``
    keeps its type and rows.  One Spark job costs more than this graph's
    data, so the plan is cut for few jobs (9 in a converging call; see
    docs/DESIGN_DECISIONS.md on persisted-relation references):
    - the symmetric edge list is pinned by an eager localCheckpoint, whose
      scan adds no job (each reference to a cached relation adds one);
    - the seed ``least(v, min(neighbours))`` is the first neighbour-min as
      one aggregate, without a join;
    - each round is one checkpointed plan: pointer jump
      ``l(v) := min(l(v), l(l(v)))`` (labels are ids of incident nodes),
      then neighbour-min.  A 40-node chain with ascending ids takes 6
      steps, but shuffled ids on a chain may need up to one per hop.
      An Observation counts the nodes whose label fell in the
      neighbour-min.  At 0 every edge has equal labels at both ends, so
      each component holds one label and its smallest node can only carry
      its own id: the loop stops in the round that reaches the fixpoint;
    - the result is one aggregate over ``nodes`` as ``(id, id)`` unioned
      with the labels, so isolated nodes never enter the loop.
    ``max_iter`` bounds the neighbour-min steps, the seed included; the
    loop warns if it stops short of the fixpoint."""
    import warnings

    from pyspark.sql import Observation

    with pins() as p:
        edges = pin(
            symmetrize_edges(
                pairs.select(
                    F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"),
                ),
                "id_a",
                "id_b",
            )
        )
        # A null id joins nothing.  Filtering every read of the pin gives all
        # references of the seed one identical subtree (no isnotnull inferred
        # on some and not on others), so they share one exchange.
        live = edges.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        labels = live.groupBy(F.col("src").alias("node")).agg(
            F.least(F.col("node"), F.min("dst")).alias("label")
        )
        converged = False
        for _ in range(max_iter - 1):
            jump = labels.select(
                F.col("node").alias("jnode"), F.col("label").alias("jlabel")
            )
            jumped = labels.join(jump, labels.label == jump.jnode, "left").select(
                "node", F.least("label", F.coalesce("jlabel", "label")).alias("own")
            )
            nbr = live.join(jumped, live.dst == jumped.node).select(
                F.col("src").alias("node"),
                F.lit(None).cast("long").alias("own"),
                F.col("own").alias("label"),
            )
            # the jump reads labels twice: without a lineage cut the logical
            # plan would double every round
            fell = Observation()
            prev, labels = labels, pin(
                jumped.select("node", "own", F.col("own").alias("label"))
                .unionByName(nbr)
                .groupBy("node")
                .agg(F.min("label").alias("label"), F.max("own").alias("own"))
                .observe(fell, F.count(F.when(F.col("label") < F.col("own"), 1)).alias("n"))
                .select("node", "label")
            )
            p.release(prev)
            if fell.get["n"] == 0:
                converged = True
                break
        if not converged and max_iter > 0:
            warnings.warn(
                f"{warn_name}: label propagation did not converge: the labels "
                f"did not reach their fixed point within {max_iter} "
                f"neighbour-min steps, so returned cluster ids may not be "
                f"transitively minimal — raise max_iter",
                RuntimeWarning,
                stacklevel=2,
            )
        id_type = nodes.schema[id_col].dataType
        node = F.col(id_col).cast("long")
        out = pin(
            nodes.select(node.alias("node"), node.alias("label"), F.lit(1).alias("rows"))
            .unionByName(labels.select("node", "label", F.lit(0).alias("rows")))
            .groupBy("node")
            .agg(F.min("label").alias("cluster_id"), F.sum("rows").alias("rows"))
            .filter(F.col("rows") > 0)  # edge endpoints outside nodes drop out
            .select(
                F.col("node").cast(id_type).alias(id_col),
                "cluster_id",
                F.explode(F.array_repeat(F.lit(0), F.col("rows").cast("int"))).alias("_rep"),
            )
            .drop("_rep")
        )
        # out is pinned itself, so the edge list and the last label
        # generation go with the scope
        return p.returning(out)


def hits(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """HITS (Kleinberg 1999) over DIRECTED ``edges(src, dst)``
    (pre-deduplicated): hub scores for src nodes, authority scores for
    dst nodes, as ``(node, role, score_fp)`` with role in
    {'hub', 'authority'} and score in SCALE fixed-point units.

    Per iteration: auth(d) = Σ hub(s) over in-edges, renormalized to
    max = SCALE by integer floor-division; then hub(s) = Σ auth(d) over
    out-edges, same renorm.  The renorm multiply runs in decimal(38,0)
    (raw ≤ max_degree·SCALE, so raw·SCALE overflows int64 exactly when
    the graph is interesting); the quotient is ≤ SCALE and lands back in
    int64.  The max is a 1-row aggregate broadcast back — the sanctioned
    1-row-totals shape.  Mirrors pagerank's iteration discipline:
    src-partitioned cached edge list (both joins reuse or co-locate with
    it), shuffle_hash on the O(nodes) score side, one pinned generation
    per score table (constant-depth plans).  Oracle: hits_oracle_cte replays the identical integer
    arithmetic, so score_fp value-hashes exactly."""
    with pins() as p:
        edges = persist(edges.repartition(F.col("src")))
        hubs = (
            edges.select("src")
            .distinct()
            .select(F.col("src").alias("node"), F.lit(SCALE).cast("long").alias("score_fp"))
        )
        auth: DataFrame | None = None
        for _ in range(iterations):
            # the renorm plan references the raw-sum twice (main branch +
            # max aggregate under the crossJoin) — persist it so the single
            # checkpoint job computes the edge join ONCE and the max branch
            # reads blocks, then drop it (generation lifetime only)
            araw = persist(
                edges.join(
                    hubs.select(F.col("node").alias("src"), "score_fp").hint(
                        "shuffle_hash"
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(F.sum("score_fp").alias("raw"))
            )
            amax = araw.agg(F.max("raw").alias("mx"))
            prev, auth = auth, pin(
                araw.crossJoin(F.broadcast(amax)).select(
                    F.col("dst").alias("node"),
                    F.expr(f"CAST(CAST(raw AS DECIMAL(38,0)) * {SCALE} div mx AS BIGINT)").alias(
                        "score_fp"
                    ),
                )
            )
            p.release(prev)
            p.release(araw)
            hraw = persist(
                edges.join(
                    auth.select(F.col("node").alias("dst"), "score_fp").hint(
                        "shuffle_hash"
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.sum("score_fp").alias("raw"))
            )
            hmax = hraw.agg(F.max("raw").alias("mx"))
            prev, hubs = hubs, pin(
                hraw.crossJoin(F.broadcast(hmax)).select(
                    F.col("src").alias("node"),
                    F.expr(f"CAST(CAST(raw AS DECIMAL(38,0)) * {SCALE} div mx AS BIGINT)").alias(
                        "score_fp"
                    ),
                )
            )
            p.release(prev)
            p.release(hraw)
        return p.returning(hubs).select(
            "node", F.lit("hub").alias("role"), "score_fp"
        ).unionAll(p.returning(auth).select("node", F.lit("authority").alias("role"), "score_fp"))


def hits_oracle_cte(edges_sql: str, iterations: int = 2) -> str:
    """Unrolled-CTE replay of ``hits`` (same integer renormalization:
    HUGEINT product, floor-division — positive operands, so DuckDB's
    truncating // equals Spark's div).  ``edges_sql`` must select
    (src, dst), deduplicated.  Caller appends a SELECT over ``h{N}`` and
    ``a{N}``."""
    parts = [
        f"edges AS ({edges_sql})",
        f"h0 AS (SELECT DISTINCT src AS node, {SCALE}::BIGINT AS score_fp FROM edges)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""ar{i} AS (
  SELECT e.dst, SUM(h.score_fp) AS raw
  FROM edges e JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst
)"""
        )
        parts.append(
            f"a{i} AS (SELECT dst AS node, CAST((raw::HUGEINT * {SCALE}) // (SELECT MAX(raw) FROM ar{i}) AS BIGINT) AS score_fp FROM ar{i})"
        )
        parts.append(
            f"""hr{i} AS (
  SELECT e.src, SUM(a.score_fp) AS raw
  FROM edges e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
)"""
        )
        parts.append(
            f"h{i} AS (SELECT src AS node, CAST((raw::HUGEINT * {SCALE}) // (SELECT MAX(raw) FROM hr{i}) AS BIGINT) AS score_fp FROM hr{i})"
        )
    return ",\n".join(parts)


def personalized_pagerank(
    edges: DataFrame, seeds: DataFrame, iterations: int = 5
) -> DataFrame:
    """Personalized PageRank: the teleport mass lands on the SEED set
    instead of uniformly — rank_{i+1}(v) = base(v) + 0.85·inflow(v) with
    base(v) = floor(0.15·|V|·SCALE / |S|) for seeds, 0 elsewhere (total
    teleport mass preserved vs :func:`pagerank`, so the two are directly
    comparable in the same fixed-point units).  The graph-proximity
    scorer behind seed-based curation ("find documents/items close to a
    trusted set") and local community detection.

    ``seeds`` must be a subset of the graph's nodes (checked — a seed
    with no edges would silently leak its teleport mass).  Loop shape,
    co-partitioned edge cache, shuffle_hash hints and pinned
    generations are identical to :func:`pagerank`; the only new state is
    an ``is_seed`` flag riding the rank table.  Note the int64 bound:
    base(v) = 0.15·|V|·SCALE/|S| must fit int64 — at billion-node scale
    with few seeds, drop SCALE a decade (the oracle replays whatever the
    constants are)."""
    with pins() as p:
        edges = persist(edges.repartition(F.col("src")))
        deg = persist(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
        n_nodes = (
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .distinct()
            .count()
        )
        n_out = deg.count()
        if n_out < n_nodes:
            raise ValueError(
                f"{n_nodes - n_out} node(s) have out-degree 0 — symmetrize the "
                "edge list or add self-loops first"
            )
        seed_set = seeds.select("node").distinct()
        n_seeds = seed_set.count()
        n_present = seed_set.join(
            deg.select(F.col("src").alias("node")), "node", "left_semi"
        ).count()
        if n_present < n_seeds:
            raise ValueError(f"{n_seeds - n_present} seed(s) are not graph nodes")
        if n_seeds == 0:
            raise ValueError("empty seed set")
        base_seed = ((100 - DAMP_NUM) * n_nodes * SCALE) // (100 * n_seeds)
        ranks = (
            deg.select(
                F.col("src").alias("node"),
                F.lit(SCALE).cast("long").alias("rank_fp"),
                "deg",
            )
            .join(seed_set.withColumn("is_seed", F.lit(True)), "node", "left")
            .select(
                "node",
                "rank_fp",
                "deg",
                F.coalesce("is_seed", F.lit(False)).alias("is_seed"),
            )
        )
        for _ in range(iterations):
            contribs = ranks.select(
                F.col("node").alias("src"),
                F.expr("rank_fp div deg").alias("contrib"),
            ).hint("shuffle_hash")
            inbound = (
                edges.join(contribs, "src")
                .groupBy("dst")
                .agg(F.sum("contrib").alias("inflow"))
            ).hint("shuffle_hash")
            prev, ranks = ranks, pin(
                ranks.join(inbound, ranks.node == inbound.dst, "left")
                .select(
                    "node",
                    (
                        F.when(F.col("is_seed"), F.lit(base_seed).cast("long"))
                        .otherwise(F.lit(0).cast("long"))
                        + F.expr(f"({DAMP_NUM} * coalesce(inflow, 0)) div 100")
                    ).alias("rank_fp"),
                    "deg",
                    "is_seed",
                )
            )
            p.release(prev)
        return p.returning(ranks).select("node", "rank_fp")


def ppr_oracle_cte(edges_sql: str, seeds_sql: str, iterations: int = 5) -> str:
    """Unrolled-CTE replay of ``personalized_pagerank``.  ``seeds_sql``
    selects one column ``node``; same fixed-point arithmetic, same
    floor-div base."""
    parts = [
        f"edges AS ({edges_sql})",
        f"seeds AS (SELECT DISTINCT node FROM ({seeds_sql}))",
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src)",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"bs AS (SELECT ({100 - DAMP_NUM}::BIGINT * (SELECT COUNT(*) FROM nodes)"
        f" * {SCALE}::BIGINT) // (100 * (SELECT COUNT(*) FROM seeds)) AS v)",
        f"r0 AS (SELECT node, {SCALE}::BIGINT AS rank_fp FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"""r{i} AS (
  SELECT n.node,
         (CASE WHEN sd.node IS NOT NULL THEN (SELECT v FROM bs) ELSE 0 END
          + ({DAMP_NUM} * COALESCE(s.inflow, 0)) // 100)::BIGINT AS rank_fp
  FROM nodes n
  LEFT JOIN seeds sd ON sd.node = n.node
  LEFT JOIN (
    SELECT e.dst, SUM(r.rank_fp // d.deg) AS inflow
    FROM edges e
    JOIN r{i - 1} r ON r.node = e.src
    JOIN deg d ON d.node = e.src
    GROUP BY e.dst
  ) s ON s.dst = n.node
)"""
        )
    return ",\n".join(parts)
