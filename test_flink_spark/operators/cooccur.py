"""Item co-occurrence analytics: "users who touched X also touched Y" —
the candidate-generation stage of item-to-item collaborative filtering
(Amazon-style), plus the k-NN item graph it induces and triangle counts
over that graph (local clustering signal / community cores).

Semantics (deterministic, engine-reproducible):
- the basket is the DISTINCT (user, item) set; a per-user item cap keeps
  a single power-user from contributing O(items²) pairs — kept items are
  the user's lowest item ids (deterministic, not sampled);
- pair strength is co-user count; ``lift_ppm`` = floor(1e6·n_co·n_users /
  (n_a·n_b)) compares it against the independence expectation with pure
  int64 cross-multiplication (no float division until the final floor);
- the k-NN graph keeps, per item, its top-k neighbors by (n_co desc,
  neighbor asc); an undirected edge exists when EITHER endpoint ranks the
  other (union semantics — standard k-NN graph construction);
- triangles are counted on the canonical a<b<c edge set, so the result
  is independent of enumeration strategy.

Scale design:
- the self-join on user_id is bounded by cap²/2 pairs per user — the cap
  is the operator's contract with 100 TB data (heavy-user skew guard);
- pair aggregation is one groupBy on (item_a, item_b) with map-side
  partial counts; item marginals are a second narrow aggregate broadcast
  back (|items| rows);
- triangle enumeration wedge-joins the k-NN edge list against itself on
  the shared vertex, then closes with a third equality join — with per-
  node degree capped at ~2k by construction, wedge fanout is bounded at
  O(|items|·k²), never O(edges²).  (For uncapped graphs the standard
  degree-orientation trick applies; the k-NN cap here is strictly
  stronger.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import pin

LIFT_SCALE = 1_000_000


def item_pairs(
    df: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item",
    max_items_per_user: int = 64,
    with_lift: bool = True,
    broadcast_marginals: bool = True,
) -> DataFrame:
    """Co-occurrence pairs ``(item_a, item_b, n_co[, n_a, n_b, lift_ppm])``
    with item_a < item_b, over the capped distinct basket.

    ``with_lift=False`` skips the item marginals, the |users| scalar, and
    their joins — graph construction (k-NN edges, triangles) ranks on
    ``n_co`` alone and shouldn't pay for columns it drops.

    ``broadcast_marginals=False`` drops the broadcast hint on the
    |items|-row marginal tables: keep the default only when the item
    space is bounded by construction (e.g. a fixed catalog of encoded
    ids); pass False when |items| scales with a dimension table
    (suppliers, parts) — AQE still broadcasts at runtime when small,
    without baking the assumption into the plan."""
    if max_items_per_user < 2:
        raise ValueError(f"max_items_per_user must be >= 2, got {max_items_per_user}")
    ui = df.select(F.col(user_col).alias("u"), F.col(item_col).alias("i")).distinct()
    w = Window.partitionBy("u").orderBy(F.col("i").asc())
    capped = (
        ui.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_items_per_user)
        .drop("__rn")
    )
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(b, (F.col("a.u") == F.col("b.u")) & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("item_a"), F.col("b.i").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
    )
    if not with_lift:
        return pairs
    # |users| of the capped basket == |users| of ui (the cap keeps >= 1
    # item per user), so count the cheaper pre-window form — a sanctioned
    # tiny scalar (one int), same family as llm_data's threshold collects
    n_users = ui.select("u").distinct().count()
    marg = capped.groupBy("i").agg(F.count(F.lit(1)).alias("n_i"))
    ma = marg.select(F.col("i").alias("item_a"), F.col("n_i").alias("n_a"))
    mb = marg.select(F.col("i").alias("item_b"), F.col("n_i").alias("n_b"))
    if broadcast_marginals:
        ma, mb = F.broadcast(ma), F.broadcast(mb)
    return (
        pairs.join(ma, "item_a")
        .join(mb, "item_b")
        .select(
            "item_a",
            "item_b",
            "n_co",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.floor(
                F.lit(LIFT_SCALE) * F.col("n_co") * F.lit(n_users)
                / (F.col("n_a") * F.col("n_b"))
            )
            .cast("long")
            .alias("lift_ppm"),
        )
    )


def _ranked_sym(pairs: DataFrame, carry: list[str], k: int) -> DataFrame:
    """Both directions of each pair ranked per item by (n_co desc,
    neighbor asc), cut at k — the ONE definition of neighbor ranking
    shared by the top-k listing and the k-NN graph (a tie-break change
    here changes both consistently)."""
    cols = ["n_co", *carry]
    # both directions come from ONE pass over the pair table: a union of
    # two selects re-executes the whole upstream pair pipeline (distinct +
    # window cap + self-join + aggregations) once per branch — the explode
    # emits the identical row multiset from a single subtree (guide §2.4:
    # remove the duplicated pass outright; measured 3.28 -> 2.64 s on
    # graph_supplier_jaccard's sibling union at sf0.1)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("item"),
                    F.col("item_b").alias("neighbor"),
                    *[F.col(c).alias(c) for c in cols],
                ),
                F.struct(
                    F.col("item_b").alias("item"),
                    F.col("item_a").alias("neighbor"),
                    *[F.col(c).alias(c) for c in cols],
                ),
            )
        ).alias("e")
    ).select("e.*")
    w = Window.partitionBy("item").orderBy(F.col("n_co").desc(), F.col("neighbor").asc())
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def topk_neighbors(pairs: DataFrame, k: int = 5) -> DataFrame:
    """Per-item top-k co-occurring neighbors ``(item, neighbor, n_co,
    lift_ppm, rank)`` by (n_co desc, neighbor asc) — both directions of
    each pair compete, so every item gets a ranking."""
    return _ranked_sym(pairs, ["lift_ppm"], k).select(
        "item", "neighbor", "n_co", "lift_ppm", F.col("rank").cast("long").alias("rank")
    )


def knn_edges(pairs: DataFrame, k: int = 10) -> DataFrame:
    """Canonical undirected k-NN edge set ``(a, b)`` with a < b: an edge
    survives when either endpoint ranks the other in its top-k.  Ranks on
    ``n_co`` alone (same _ranked_sym definition as topk_neighbors), so
    ``item_pairs(..., with_lift=False)`` suffices."""
    kept = _ranked_sym(pairs, [], k).select(
        F.least("item", "neighbor").alias("a"),
        F.greatest("item", "neighbor").alias("b"),
    )
    return kept.distinct()


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts ``(item, n_tri)`` over a canonical
    (a < b) edge set; vertices in no triangle are omitted.

    The edge set is referenced three times (two wedge sides + the closing
    probe); materialize it once with an eager localCheckpoint so the
    upstream pipeline (typically the full co-occurrence + k-NN ranking
    chain) is computed once, not three times, and the resulting plan is
    three scans of an O(items·k) edge table instead of a tripled lineage
    tree (graph.py discipline)."""
    edges = pin(edges)
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    # wedges x<y<z with edges (x,y) and (y,z); close with (x,z)
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).select("x", "y", "z")
    verts = (
        tri.select(F.col("x").alias("item"))
        .unionAll(tri.select(F.col("y").alias("item")))
        .unionAll(tri.select(F.col("z").alias("item")))
    )
    return verts.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
