"""Core graph algebra over an edge DataFrame, and the per-graph context
every counting and iterative operator shares.

The reference keeps ONE physical representation (sorted CSR, degree-desc
renumbered, with its stats — reference core/DataGraph.hh:89-98). In
Spark the same roles split into cheap declarative views over
``edges(src, dst)``:

- canonical(src<dst once)    — the undirected edge *set*
- undirected (both rows)     — the adjacency closure gather-scatter reads
- degrees                    — groupBy count over the closure
- orient (degree-ordered)    — the Spark form of degree-desc renumbering +
  the clique symmetry condition u<v (core/DataConverter.cc:283-287,
  core/Graph.hh:1062-1073): every undirected edge kept once, pointed from
  the (deg, id)-smaller endpoint to the larger. Bounds out-degree by
  O(sqrt(E)) — this is what makes the triangle join feasible at 100 TB.
- adjacency                  — one sorted array run per source vertex

GraphContext holds these tables for one input, caches the ones operators
read more than once, and makes every route decision that reads graph
statistics. All pure DataFrame ops: Catalyst prunes/pushes; every
shuffle is on a graph key we chose.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peregrine_spark.operators import skew

# Route bounds on the context's graph statistics. Tests force a route by
# patching these module attributes; every decision reads them at call
# time.
#
# Whole-adjacency broadcast (triangles, cliques, cycle4): Σ out-run
# lengths = |E| ids ≈ 160 MB raw at the cap. Below it, GraphContext.attach_adj
# attaches runs via map-side broadcast joins (no array-carrying shuffle,
# no hub detection); above it, via hub-split shuffle joins.
BROADCAST_MAX_EDGES = 20_000_000
# degree-table broadcast (orient's joins, group counting's |NU| = 1
# lookups): |V| rows of (id, deg)
BROADCAST_VERTEX_LIMIT = 20_000_000
# codegree-ROW bound under which the codegree table is explicitly
# broadcast (8M rows ≈ 250MB-1GB as a hash relation — the 64M bound we
# shipped first OOMed an 8g driver on a 9.5k-edge zipf graph whose hub
# alone yields ~2.5e7 pairs; above it the flow-side shuffle join is
# unavoidable and AQE picks the strategy). The row estimate is
# min(Σ d(d−1), |V|²): wedges overcount heavily once a hub's
# neighbourhood saturates the vertex set.
BROADCAST_WEDGE_LIMIT = 8_000_000
# undirected-closure row bound for broadcasting edge-membership lookups
# and for group counting's array mode
BROADCAST_UND_LIMIT = 8_000_000
# array mode copies a vertex's adjacency run into every core row that
# matches it; past this degree the shuffle plans win
ARRAY_MODE_MAX_DEG = 100_000
# cycle4 route 1 packs a vertex pair into one signed 64-bit key
# (x · 2³² + y); ids must lie strictly inside (−2³¹, 2³¹) for the key to
# neither overflow under ANSI nor collide.
PACK_MAX_ID = 1 << 31
# cycle4 route-1 wedge budget: total wedges Σ C(deg,2) is exactly the row
# count of the one packed-key shuffle (8 B/row ⇒ ~8 GB at the cap). A
# zipf mega-hub's Σ C(deg,2) is 10¹³⁺, so skewed graphs land on the
# intersect route (routing is a perf heuristic only — both routes are
# exact and golden-tested).
WEDGE_ENUM_MAX = 1_000_000_000


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
    """Undirected degree per vertex: (id, deg). Input may be directed.
    Inside a GraphContext on the same edges (or over a caller's cached
    closure) this plan reads the cached tables."""
    return undirected(edges).groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def adjacency(df: DataFrame) -> DataFrame:
    """(id, adj): sorted array of dst per src vertex — the per-vertex CSR
    run (adjlist, reference core/DataGraph.hh:26-32)."""
    return df.groupBy(F.col("src").alias("id")).agg(
        F.sort_array(F.collect_list("dst")).alias("adj")
    )


def orient(edges: DataFrame) -> DataFrame:
    """Degree-ordered orientation: (src, dst, sdeg, ddeg) with
    (sdeg, src) < (ddeg, dst) lexicographically. One row per undirected
    edge; the result is a DAG whose out-degrees are O(sqrt(E)).

    Lazy: the context's caches are released before returning, so the
    plan reads the input again when it runs."""
    with GraphContext(edges) as ctx:
        return ctx.oriented()


class GraphContext:
    """One input graph's shared tables, statistics and route decisions.

    Use it as a context manager: everything it cached is released on
    exit. The canonical edge set and the degree table are cached here,
    built by the module functions above so every context on the same
    edges builds the same plan. The closure `und` is a view that scans
    the cached set twice: its two branches give the flows that read it
    twice the partitions of one cached closure (the fused group action of
    the sf0.1 groups10 bench ran 14.8 s over two branches and 23.5 s
    over a closure cached as one generator's output). Spark's cache
    manager matches plans, not DataFrame objects: a context opened while
    another one on the same edges is live (or over a caller's own cached
    closure) reads those caches without re-running a shuffle, and owns —
    so releases — only the caches it created.

    Statistics come from ONE lazy aggregation over the degree table. The
    context is not shared between threads: an operator running
    concurrently opens its own."""

    def __init__(self, edges: DataFrame):
        self._caches: list[DataFrame] = []
        self._stats: dict[str, int] | None = None
        self.can = self.cache(canonical(edges))
        self.deg = self.cache(degrees(edges))
        self.und = undirected(edges)

    def __enter__(self) -> "GraphContext":
        return self

    def __exit__(self, *exc) -> None:
        self.unpersist()

    def cache(self, df: DataFrame) -> DataFrame:
        """Cache `df` until this context exits — unless an identical plan
        is already cached, in which case its owner releases it."""
        level = df.storageLevel
        if not (level.useMemory or level.useDisk):
            self._caches.append(df.cache())
        return df

    def unpersist(self) -> None:
        for df in self._caches:
            df.unpersist()
        self._caches.clear()

    # -- statistics ------------------------------------------------------
    def _stat(self, name: str) -> int:
        if self._stats is None:
            deg = F.col("deg").cast("long")
            row = self.deg.agg(
                F.count(F.lit(1)).alias("n_vertices"),
                F.coalesce(F.sum(deg), F.lit(0)).alias("n_und"),
                F.coalesce(F.sum(deg * (deg - 1)), F.lit(0)).alias("n_wedges"),
                F.coalesce(F.max(deg), F.lit(0)).alias("max_deg"),
                F.coalesce(F.min("id"), F.lit(0)).alias("min_id"),
                F.coalesce(F.max("id"), F.lit(0)).alias("max_id"),
            ).first()
            self._stats = {k: int(v) for k, v in row.asDict().items()}
        return self._stats[name]

    @property
    def n_vertices(self) -> int:
        return self._stat("n_vertices")

    @property
    def n_und(self) -> int:
        """Undirected closure rows = 2|E|."""
        return self._stat("n_und")

    @property
    def n_edges(self) -> int:
        return self.n_und // 2

    @property
    def n_wedges(self) -> int:
        """Ordered wedge pairs = Σ d(d−1)."""
        return self._stat("n_wedges")

    @property
    def max_deg(self) -> int:
        return self._stat("max_deg")

    @max_deg.setter
    def max_deg(self, v: int) -> None:
        # override slot: lets tests force the decimal and shuffle paths
        # by pretending the degree bound is huge
        self._stat("max_deg")
        self._stats["max_deg"] = int(v)

    @property
    def min_id(self) -> int:
        return self._stat("min_id")

    @property
    def max_id(self) -> int:
        return self._stat("max_id")

    # -- derived tables --------------------------------------------------
    def oriented(self) -> DataFrame:
        """(src, dst, sdeg, ddeg): see orient(). Degrees ride along so
        downstream code can re-establish the total order without
        re-joining them."""
        d = self.deg_table()
        e = self.can.join(
            d.select(F.col("id").alias("src"), F.col("deg").alias("_sd")), "src"
        ).join(d.select(F.col("id").alias("dst"), F.col("deg").alias("_dd")), "dst")
        fwd = (F.col("_sd") < F.col("_dd")) | (
            (F.col("_sd") == F.col("_dd")) & (F.col("src") < F.col("dst"))
        )
        return e.select(
            F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
            F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
            F.when(fwd, F.col("_sd")).otherwise(F.col("_dd")).alias("sdeg"),
            F.when(fwd, F.col("_dd")).otherwise(F.col("_sd")).alias("ddeg"),
        )

    @cached_property
    def fwd(self) -> DataFrame:
        """(src, dst): the degree-ordered DAG, cached."""
        return self.cache(self.oriented().select("src", "dst"))

    @cached_property
    def adj(self) -> DataFrame:
        """(id, adj): sorted forward-adjacency run per vertex, cached —
        every frontier-intersection plan attaches it more than once, and
        differently-aliased builds of an uncached table are not deduped
        by runtime exchange reuse."""
        return self.cache(adjacency(self.fwd))

    def codeg_table(self) -> DataFrame:
        """Ordered-pair codegrees (_x, _y, _codeg), x ≠ y — Σ d(d−1) rows,
        cached, broadcast when small. A zipf mega-hub makes this
        Θ(deg_hub²); classes that need it inherit that bound exactly as
        the reference's candidate-array intersections do."""
        a = self.und.select(F.col("dst").alias("_x"), F.col("src").alias("_w"))
        b = self.und.select(F.col("dst").alias("_y"), F.col("src").alias("_w"))
        cd = self.cache(
            a.join(b, "_w")
            .filter(F.col("_x") != F.col("_y"))
            .groupBy("_x", "_y")
            .agg(F.count(F.lit(1)).alias("_codeg"))
        )
        est_rows = min(self.n_wedges, self.n_vertices * self.n_vertices)
        return F.broadcast(cd) if est_rows <= BROADCAST_WEDGE_LIMIT else cd

    def attach_adj(
        self, df: DataFrame, key: str, col: str, how: str = "inner"
    ) -> DataFrame:
        """`df` with the forward run (`adj`) of the vertex in its `key`
        column attached as `col` — the one way frontier-intersection plans
        read adjacency. `how` is "inner" or "left" (a row whose vertex has
        no forward run gets a null `col`).

        When the whole adjacency broadcasts, the attach is a map-side
        broadcast hash join: rows carrying ~O(sqrt E)-element arrays never
        cross an exchange (round-6 profile: the two array-carrying
        shuffles were most of triangle_count's wall at sf0.1). Above the
        bound it is a hub-split shuffle join: a mega-hub's DAG in-degree
        can approach |E| and would pin one task of the shuffle, so the
        hub keys (dag_hubs) join a broadcast slice of the runs instead —
        their runs are tiny, a high-degree vertex has few higher-degree
        neighbours."""
        runs = self.adj.select(F.col("id").alias(key), F.col("adj").alias(col))
        if self.adj_broadcast():
            return df.join(F.broadcast(runs), key, how)
        return skew.hub_split_join(df, runs, key, self.dag_hubs, how)

    def edge_runs(self) -> DataFrame:
        """(src, dst, adj_u, adj_v): every DAG edge u→v with both
        endpoints' forward runs — the base-edge frontier of the triangle
        and clique plans."""
        return self.attach_adj(
            self.attach_adj(self.fwd, "src", "adj_u"), "dst", "adj_v"
        )

    # -- route decisions -------------------------------------------------
    def adj_broadcast(self) -> bool:
        """Attach forward-adjacency runs by map-side broadcast joins."""
        return self.n_edges <= BROADCAST_MAX_EDGES

    def deg_table(self) -> DataFrame:
        """The degree table as a join dimension, broadcast when it fits."""
        if self.n_vertices <= BROADCAST_VERTEX_LIMIT:
            return F.broadcast(self.deg)
        return self.deg

    def und_dim(self) -> DataFrame:
        """The closure as a join dimension (edge-membership lookups),
        broadcast when small enough that shuffling the big flow against
        it would be absurd."""
        if self.n_und <= BROADCAST_UND_LIMIT:
            return F.broadcast(self.und)
        return self.und

    def array_mode(self) -> bool:
        """Group counting via broadcast adjacency-array intersections:
        needs the closure to broadcast AND a sane max degree — a
        mega-hub's array would be copied into every core row that matches
        it, which is where the shuffle plans win."""
        return (
            self.n_und <= BROADCAST_UND_LIMIT and self.max_deg <= ARRAY_MODE_MAX_DEG
        )

    def cycle4_full_enum(self) -> bool:
        """cycle4 route 1 (enumerate every wedge): the graph broadcasts,
        ids fit the packed pair key, and Σ C(deg,2) is within budget."""
        return (
            self.adj_broadcast()
            and -PACK_MAX_ID < self.min_id
            and self.max_id < PACK_MAX_ID
            and self.n_wedges // 2 <= WEDGE_ENUM_MAX
        )

    @cached_property
    def dag_hubs(self) -> list[int]:
        """DAG dst ids whose in-degree would pin one task of a shuffle
        join: the keys attach_adj's hub-split route broadcasts."""
        counts = self.fwd.groupBy("dst").agg(F.count(F.lit(1)).alias("n"))
        thr = skew.auto_hub_threshold(self.n_edges)
        return skew.hub_keys(counts, "dst", "n", thr, self.max_deg)
