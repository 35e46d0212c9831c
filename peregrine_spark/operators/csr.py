"""Per-vertex sorted adjacency runs and the frontier-intersection set-up.

The reference's physical core is ordered-set algebra over sorted uint32
adjacency runs (std::set_intersection, Peregrine's
core/PatternMatching.hh:1116-1217). Spark-first, each
vertex's forward run is one sorted array column (groupBy +
sort_array(collect_list)) over the degree-ordered DAG, and the
intersection is JVM array_intersect inside whole-stage codegen — zero
Python. Triangles, cliques and cycle4 share this set-up; out-degrees of
the ORIENTED DAG are O(sqrt E), which bounds every run exactly like the
reference's symmetry-broken candidate sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peregrine_spark.operators.graph import orient

# Whole-adjacency broadcast bound, shared by every frontier-intersection
# plan (triangles, cliques, cycle4): Σ out-run lengths = |E| ids ≈ 160 MB
# raw at the cap — the same order as orient()'s ≤20M-VERTEX degree-table
# broadcast (graph.py), but measured in edges because the adjacency
# payload is one id per oriented edge. Below it, adjacency attaches via
# map-side broadcast joins (zero array-carrying shuffles and no hub
# detection needed); above it, plans fall back to hub-split shuffle
# joins.
BROADCAST_MAX_EDGES = 20_000_000


def adjacency(fwd: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """(id, adj): sorted forward-adjacency array per source vertex — the
    per-vertex CSR run (adjlist, /root/reference/core/DataGraph.hh:26-32)."""
    return fwd.groupBy(F.col(src_col).alias("id")).agg(
        F.sort_array(F.collect_list(dst_col)).alias("adj")
    )


def _oriented_adjacency(
    edges: DataFrame,
    caches: list[DataFrame] | None = None,
    broadcast_max_edges: int | None = None,
) -> tuple[DataFrame, DataFrame, list[int], int, bool, DataFrame, DataFrame]:
    """(fwd, adj, hubs, n_edges, small, deg, can): the degree-ordered DAG,
    its forward-adjacency arrays, the driver-side list of skewed dst keys,
    |E|, the broadcast decision, the cached (id, deg) table and the cached
    canonical edge set — the shared set-up for every frontier-intersection
    plan (triangles, cliques, cycle4).

    Canonicalizes and computes degrees ONCE, shared between the
    orientation and the broadcast decision; |V| and |E| come out of ONE
    one-row action over the degree table (or from a live
    GroupCountContext). Pass a `caches` list to receive the internally
    cached DataFrames (can, deg, fwd) for unpersisting once the caller's
    action has run. fwd and adj are LAZY — a caller whose plan never
    references them, like cycle4's orientation-free route 1, never pays
    the orient joins at all.

    broadcast_max_edges: callers that take a whole-adjacency BROADCAST
    route when |E| ≤ the bound pass it here (small=True); under the bound
    hub detection is skipped entirely (hubs = []) — the hub list only
    serves shuffle-join fallbacks, and its groupBy + collect is a full
    extra pass over the DAG (guide §1.2)."""
    from peregrine_spark.operators.graph import canonical
    from peregrine_spark.operators.groups import live_context_for
    from peregrine_spark.operators.skew import auto_hub_threshold, hub_keys

    own_can_deg = True
    ctx = live_context_for(edges)
    if ctx is not None:
        # a live GroupCountContext on EXACTLY this DataFrame (e.g. a
        # catalog gate's clique class running right after the fused
        # group action on one cached subgraph): its undirected closure
        # IS can ∪ reversed(can), its degree table and stats are the
        # same quantities — reuse them instead of re-running the
        # canonical distinct, the degree groupBy and the stats agg.
        # The views stay owned by the context (not appended to caches).
        can = ctx.und.filter(F.col("src") < F.col("dst"))
        deg = ctx.deg.select(
            F.col("src").alias("id"), F.col("_deg").alias("deg")
        )
        n_vertices = ctx.n_vertices
        n_edges = ctx.n_und // 2
        own_can_deg = False
    else:
        can = canonical(edges).cache()
        ends = can.select(F.col("src").alias("id")).union(
            can.select(F.col("dst").alias("id"))
        )
        deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("deg")).cache()
        # ONE deg-side action gives |V| AND |E| (Σ deg = 2|E| over the
        # canonical closure) and materializes the can/deg caches — the
        # old fwd.count() pass (a second setup job that also paid the
        # orient join up front) is gone; fwd materializes into its
        # cache inside the caller's first real job (guide §1.2)
        row = deg.agg(
            F.count(F.lit(1)).alias("nv"),
            F.coalesce(F.sum("deg"), F.lit(0)).alias("sd"),
        ).first()
        n_vertices = int(row["nv"])
        n_edges = int(row["sd"]) // 2
    fwd = (
        orient(can, deg=deg, n_vertices=n_vertices, assume_canonical=True)
        .select("src", "dst")
        .cache()
    )
    adj = adjacency(fwd)
    small = broadcast_max_edges is not None and n_edges <= broadcast_max_edges
    # hub keys exist only to route shuffle-join fallbacks; on the
    # broadcast route they are dead weight — skip the detection pass
    hubs = (
        [] if small else hub_keys(fwd, "dst", auto_hub_threshold(n_edges))
    )
    if caches is not None:
        caches += [can, deg, fwd] if own_can_deg else [fwd]
    return fwd, adj, hubs, n_edges, small, deg, can


def _edge_adjacency_pairs(
    edges: DataFrame, caches: list[DataFrame] | None = None
) -> DataFrame:
    """Per oriented edge (u,v): both endpoints' forward adjacency runs.

    When the whole adjacency broadcasts (|E| ≤ BROADCAST_MAX_EDGES), both
    attachments are map-side broadcast hash joins — the |E| rows carrying
    ~O(sqrt E)-element arrays never cross an exchange (guide §2.4: a
    broadcast join replaces the shuffle of the large side; round-6
    profile: the two array-carrying shuffles were most of triangle_count
    wall at sf0.1).

    Fallback above the bound: the src join is skew-safe (oriented
    out-degree ≤ O(sqrt E)); the dst join is NOT — a mega-hub's in-degree
    can approach |E|, pinning one task — so hub dsts take the broadcast
    path (their adjacency runs are tiny: a high-degree vertex has few
    higher-degree neighbours)."""
    from peregrine_spark.operators.skew import hub_split_join

    fwd, adj, hubs, _, small, _, _ = _oriented_adjacency(
        edges, caches=caches, broadcast_max_edges=BROADCAST_MAX_EDGES
    )
    if small and caches is not None:
        # both broadcast builds read the SAME adjacency groupBy; cache
        # it so the second build reuses the first's result instead of
        # recomputing it (no extra job: the first build materializes
        # the cache as a side effect; runtime broadcast-exchange reuse
        # is not guaranteed across the differently-aliased builds)
        adj = adj.cache()
        caches.append(adj)
    a_u = adj.select(F.col("id").alias("src"), F.col("adj").alias("adj_u"))
    a_v = adj.select(F.col("id").alias("dst"), F.col("adj").alias("adj_v"))
    if small:
        return fwd.join(F.broadcast(a_u), "src").join(F.broadcast(a_v), "dst")
    with_u = fwd.join(a_u, "src")
    return hub_split_join(with_u, a_v, "dst", hubs)
