"""Exact triangle counting — the canonical Peregrine pattern, Spark-first.

The reference counts triangles by degree-desc renumbering + the symmetry
condition u<v<w + sorted-adjacency intersection
(/root/reference/core/Graph.hh:1062-1073, core/PatternMatching.hh:1116-1217).
The Spark restatement: degree-ordered orientation turns the graph into a
DAG with O(sqrt(E)) out-degrees; each oriented edge (u,v) closes exactly
|N+(u) ∩ N+(v)| triangles (the edge-iterator algorithm).

Physical plan (GraphContext.edge_runs): per-vertex sorted forward runs
attach to both ends of every oriented edge through the context's one
adjacency attach (GraphContext.attach_adj: map-side broadcast joins under
graph.BROADCAST_MAX_EDGES, hub-split shuffle joins above it), and JVM
array_intersect does the set intersection inside codegen. No Python, no
wedge set through a shuffle; the count aggregates map-side, like the
reference's Counter never materializing matches
(core/PatternMatching.hh:1413).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peregrine_spark.operators.graph import GraphContext
from peregrine_spark.session import local_frame


def triangles(edges: DataFrame) -> DataFrame:
    """All triangles (u, v, w), each exactly once, u ≺ v ≺ w in (deg, id)
    order — via per-edge sorted-adjacency intersection (the direct analog
    of the reference's set_intersection core, core/PatternMatching.hh:1116):
    pack forward-adjacency arrays, then for each oriented base edge (u,v)
    emit N+(u) ∩ N+(v). Intermediates stay bounded by true triangle
    output size instead of wedge count.

    Lazy: the context's caches are released before returning, so the
    plan reads the input again when it runs (inside an enclosing
    GraphContext on the same edges, it reads that context's caches)."""
    with GraphContext(edges) as ctx:
        return ctx.edge_runs().select(
            F.col("src").alias("u"),
            F.col("dst").alias("v"),
            F.explode(F.array_intersect("adj_u", "adj_v")).alias("w"),
        )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Single-row DataFrame (n_triangles: long). Adjacency edge-iterator
    plan: sum of |N+(u) ∩ N+(v)| over oriented edges — no explode, the
    count never materializes. EAGER: runs the aggregation inside the
    context, so its caches are read and then released."""
    with GraphContext(edges) as ctx:
        row = (
            ctx.edge_runs()
            .select(F.size(F.array_intersect("adj_u", "adj_v")).alias("c"))
            .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_triangles"))
            .first()
        )
    return local_frame(
        edges.sparkSession, [(int(row["n_triangles"]),)], "n_triangles long"
    )


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """(id, n_tri): number of triangles each vertex participates in.
    Vertices in no triangle are absent (join with vertices+coalesce(0)
    if a dense vector is needed)."""
    t = triangles(edges)
    ends = (
        t.select(F.col("u").alias("id"))
        .union(t.select(F.col("v").alias("id")))
        .union(t.select(F.col("w").alias("id")))
    )
    return ends.groupBy("id").agg(F.count(F.lit(1)).alias("n_tri"))
