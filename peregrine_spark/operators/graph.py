"""Core graph algebra over an edge DataFrame.

The reference keeps ONE physical representation (sorted CSR, degree-desc
renumbered, /root/reference/core/DataGraph.hh:89-98). In Spark the same
roles split into cheap declarative views over ``edges(src, dst)``:

- canonical(src<dst once)    — the undirected edge *set*
- undirected (both rows)     — the adjacency closure gather-scatter reads
- degrees                    — groupBy count (map-side partial agg for free)
- orient (degree-ordered)    — the Spark form of degree-desc renumbering +
  the clique symmetry condition u<v (core/DataConverter.cc:283-287,
  core/Graph.hh:1062-1073): every undirected edge kept once, pointed from
  the (deg, id)-smaller endpoint to the larger. Bounds out-degree by
  O(sqrt(E)) — this is what makes the triangle join feasible at 100 TB.

All pure DataFrame ops: Catalyst prunes/pushes; every shuffle is on a graph
key we chose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set, one row per edge, (src < dst), deduped.
    Accepts any directed/multi edge list; drops self-loops."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )


def undirected(edges: DataFrame) -> DataFrame:
    """Both orientations of every undirected edge (the adjacency closure,
    analog of CSR storing each edge in both endpoint lists)."""
    can = canonical(edges)
    return can.union(can.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def degrees(edges: DataFrame) -> DataFrame:
    """Undirected degree per vertex: (id, deg). Input may be directed."""
    can = canonical(edges)
    ends = can.select(F.col("src").alias("id")).union(
        can.select(F.col("dst").alias("id"))
    )
    return ends.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))


def orient(
    edges: DataFrame,
    deg: DataFrame | None = None,
    broadcast_degrees: bool | None = None,
    max_broadcast_vertices: int = 20_000_000,
    n_vertices: int | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """Degree-ordered orientation: (src, dst, sdeg, ddeg) with
    (sdeg, src) < (ddeg, dst) lexicographically. One row per undirected
    edge; the result is a DAG whose out-degrees are O(sqrt(E)).

    Degrees ride along so downstream wedge enumeration can re-establish
    the total order WITHOUT re-joining degrees (the oriented-wedge
    oracles in plans/oracles.py do exactly that).

    The two degree joins dominated triangle counting wall time (each
    re-shuffles every edge, and the dst side is hub-skewed). When the
    degree table fits (≤ max_broadcast_vertices), broadcast it — both
    joins go map-side and the only shuffle left is the canonical
    distinct. Beyond that scale, pass broadcast_degrees=False to fall
    back to shuffle joins (at 10^10+ vertices you'd co-bucket instead).
    """
    # assume_canonical: caller already holds the (cached) canonical set —
    # skips a redundant full distinct shuffle
    can = edges if assume_canonical else canonical(edges).cache()
    if deg is None:
        # inline (not degrees(can)) — that would re-canonicalize, i.e.
        # one more full distinct shuffle over an already-canonical set
        ends = can.select(F.col("src").alias("id")).union(
            can.select(F.col("dst").alias("id"))
        )
        deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    if broadcast_degrees is None:
        # n_vertices is a caller hint (many callers already know |V|) that
        # saves a full aggregation job per orient() call at scale
        if n_vertices is None:
            n_vertices = deg.count()
        broadcast_degrees = n_vertices <= max_broadcast_vertices
    dwrap = F.broadcast(deg) if broadcast_degrees else deg
    e = (
        can.join(dwrap.select(F.col("id").alias("src"), F.col("deg").alias("_sd")), "src")
        .join(dwrap.select(F.col("id").alias("dst"), F.col("deg").alias("_dd")), "dst")
    )
    fwd = (F.col("_sd") < F.col("_dd")) | (
        (F.col("_sd") == F.col("_dd")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
        F.when(fwd, F.col("_sd")).otherwise(F.col("_dd")).alias("sdeg"),
        F.when(fwd, F.col("_dd")).otherwise(F.col("_sd")).alias("ddeg"),
    )
