"""Motif counting: all connected k-vertex patterns, edge- and
vertex-induced (the reference's count app + convert_counts rewrite,
/root/reference/core/Peregrine.hh:1054-1095,1025-1041).

Edge-induced counts (cheap — no anti-edges) come from one catalog
counter, class_counts: the clique frontier for complete classes, the
fused group counter for every other class. k = 4 uses closed forms
instead (_k4_counts). Vertex-induced counts are recovered by
back-substitution:
    v[i] = e[i] − Σ_{j denser} num_mappings(p_j, p_i) · v[j]
where num_mappings(p_j, p_i) is the number of edge-induced occurrences of
p_i inside the (tiny) pattern p_j — computed with the same brute-force
counter the test oracle uses, on a k-vertex graph
(mirrors core/PatternMatching.hh:2149-2170).

Pattern catalogs for k ≤ 4 are enumerated inline; k = 5..9 come from the
brute-force isomorphism-class enumeration (plans/generators.all_connected,
21 classes at k = 5 — the same catalog the reference decodes from graph6
files, core/graphs/graph5c.g6). The conversion logic is k-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from peregrine_spark.operators.graph import GraphContext, adjacency
from peregrine_spark.plans.patterns import SmallGraph
from peregrine_spark.reference import pattern_count
from peregrine_spark.session import local_frame


def all_motifs(k: int) -> dict[str, SmallGraph]:
    """All connected unlabelled patterns on k vertices (3 ≤ k ≤ 9; the
    reference's integration tests count 4/5/6-motif catalogs from graph6
    files, core/integrationtests/Counting_test.hh:14-84, and ship
    catalogs to k=9 in core/graphs/ — here k ≤ 4 get stable human
    names, k ≥ 5 the enumerated catalogs m5_000.. / m8_0000..)."""
    if k == 3:
        return {"path3": SmallGraph.path(3), "triangle": SmallGraph.clique(3)}
    if k == 4:
        diamond = SmallGraph.from_text("1 2\n2 3\n1 3\n1 4\n3 4\n")  # chordal 4-cycle
        tailed = SmallGraph.from_text("1 2\n2 3\n1 3\n3 4\n")
        return {
            "path4": SmallGraph.path(4),
            "star4": SmallGraph.star(3),
            "cycle4": SmallGraph.cycle(4),
            "tailed_triangle": tailed,
            "diamond": diamond,
            "clique4": SmallGraph.clique(4),
        }
    if k in (5, 6, 7, 8, 9):
        from peregrine_spark.plans.generators import all_connected

        # 21 / 112 / 853 / 11,117 / 261,080 isomorphism classes
        cat = all_connected(k)
        width = {5: 3, 6: 3, 7: 3, 8: 4, 9: 6}[k]
        return {f"m{k}_{i:0{width}d}": g for i, g in enumerate(cat)}
    raise ValueError("motif catalogs implemented for k in {3, ..., 9}")


def _as_complement_anti(pattern: SmallGraph) -> SmallGraph:
    """Vertex-induced form: add anti-edges for every non-edge."""
    g = SmallGraph(edges=list(pattern.edges))
    vs = pattern.vertices
    for i, u in enumerate(vs):
        for v in vs[i + 1 :]:
            if not pattern.has_edge(u, v):
                g.add_anti_edge(u, v)
    return g


def num_mappings(container: SmallGraph, contained: SmallGraph) -> int:
    """Edge-induced occurrences of `contained` inside the pattern graph
    `container` (both tiny) — the conversion matrix entry."""
    edges = [(u, v) for u, v in container.edges]
    return pattern_count(edges, contained)


def motif_counts(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    vertex_induced: bool = False,
) -> DataFrame:
    """(motif, count) for all connected k-vertex motifs. Edge-induced by
    default; vertex_induced=True applies the back-substitution rewrite
    (the conversion is driver-side arithmetic on the tiny count vector).

    k = 4 runs the closed forms (_k4_counts: degrees, triangle
    incidences, codegrees and the clique frontier — on the sf0.01
    co-purchase graph an order of magnitude cheaper than the fused
    group counter); every other k counts its catalog with class_counts."""
    cat = all_motifs(k)
    e_counts = _k4_counts(edges) if k == 4 else class_counts(edges, cat)
    out = _to_vertex_induced(cat, e_counts) if vertex_induced else e_counts
    rows = [(n, out[n]) for n in cat]
    return local_frame(spark, rows, "motif string, count long")


def class_counts(edges: DataFrame, patterns: dict[str, SmallGraph]) -> dict[str, int]:
    """Edge-induced count of each named connected pattern, {name: count}
    (the reference's per-class dispatch, core/Graph.hh:1024-1080 + the
    D2-D4 counters):
    - complete patterns → the oriented-DAG frontier intersection
      (clique_count), one thread each, concurrent with the group action
      (independent jobs back-fill each other's straggler tails, guide
      §2.6);
    - every other pattern → the fused group counter (group_count_many):
      one enumerated minimum-vertex-cover core flow per core shape, the
      sibling groups counted, never enumerated. Every connected pattern
      has a plan (V minus a non-cut vertex is a connected vertex cover,
      so some vertex is left to count), so no class is enumerated.
    One GraphContext serves all of them: its stats job fills the
    canonical-set and degree caches BEFORE any thread starts (threads
    started on empty caches compute the same partitions), and each
    clique count's own context reads them. EAGER; releases its caches."""
    from concurrent.futures import ThreadPoolExecutor

    from peregrine_spark.operators.groups import group_count_many
    from peregrine_spark.operators.patterns import clique_count

    cliques = {
        n: len(g.vertices)
        for n, g in patterns.items()
        if len(g.edges) == len(g.vertices) * (len(g.vertices) - 1) // 2
    }
    rest = {n: g for n, g in patterns.items() if n not in cliques}
    with GraphContext(edges) as ctx, ThreadPoolExecutor(
        max_workers=max(1, len(cliques))
    ) as pool:
        ctx.n_vertices
        futs = {
            n: pool.submit(lambda k=k: clique_count(edges, k).first()["n_cliques"])
            for n, k in cliques.items()
        }
        counts = group_count_many(edges, rest, ctx) if rest else {}
        counts.update({n: int(f.result()) for n, f in futs.items()})
    return {n: counts[n] for n in patterns}


def _to_vertex_induced(
    cat: dict[str, SmallGraph], e_counts: dict[str, int]
) -> dict[str, int]:
    """Densest-first back-substitution (D5, core/Peregrine.hh:1025-1041):
    v[i] = e[i] − Σ_{j denser} num_mappings(p_j, p_i) · v[j]."""
    order = sorted(cat, key=lambda n: -len(cat[n].edges))
    v_counts: dict[str, int] = {}
    for i, name in enumerate(order):
        v = e_counts[name]
        for denser in order[:i]:
            v -= num_mappings(cat[denser], cat[name]) * v_counts[denser]
        v_counts[name] = v
    return v_counts


def cycle4_count(edges: DataFrame) -> DataFrame:
    """Exact 4-cycle count over the degree-ordered DAG — single row
    (n_cycles,). 2·C4 = Σ_{x<y} C(codeg(x,y), 2); instead of enumerating
    every wedge (Θ(Σ deg²) — the zipf mega-hub alone is ~10¹² rows), split
    each wedge x−c−y by the center's position in the degree-id total
    order η (the same orientation that bounds the triangle/clique paths,
    reference core/Graph.hh:1062-1073):

      A (c η-min):  all unordered pairs within each oriented out-run —
                    Σ C(outdeg, 2) rows, outdeg = O(√E), hub outdeg ≈ 0
      B (c η-mid):  per DAG edge a→c, explode c's out-adjacency —
                    Σ indeg·outdeg rows; the hub's huge in-degree
                    multiplies its ≈0 out-degree
      C (c η-max):  NEVER enumerated — for a pair (x, y) it equals
                    |out(x) ∩ out(y)| (array_intersect on the short
                    oriented runs), and pairs of C-wedges reduce back to
                    A-counts: Σ_{x<y} C(Cw, 2) = Σ_{c1<c2} C(A(c1,c2), 2)

    With codeg = AB + Cw:  2·C4 = Σ C(AB,2) + Σ AB·Cw + Σ C(A,2).

    Physical routing (round-6 rework; round-5/6 profiles in BENCH.md /
    OPTIMIZATION_r06.md): two routes, picked from the GraphContext's
    one stats aggregation (GraphContext.cycle4_full_enum).

    1. FULL WEDGE ENUMERATION (small unskewed graphs:
       |E| ≤ BROADCAST_MAX_EDGES, |ids| < 2³¹, total wedges Σ C(deg,2) ≤
       WEDGE_ENUM_MAX): A ∪ B ∪ C at a center is ALL unordered pairs of
       its neighbours, so one sorted full-neighbourhood run per vertex
       (built straight from the cached closure — no orientation) feeds a
       codegen posexplode + slice + explode that emits each packed
       64-bit pair key exactly once; one groupBy(count),
       2·C4 = Σ C(codeg, 2). The round-5 plan's C-term (two broadcast
       joins + an array_intersect per surviving pair — 66M intersects
       ≈ 13 s at sf0.1) disappears; the one shuffle carries one long
       per wedge. The wedge budget matters: a zipf mega-hub makes
       Σ C(deg,2) ~10¹³⁺, which is why wedges are otherwise never
       fully enumerated.
    2. INTERSECT (skewed, huge or large-id graphs): A-wedges from the
       same pair generator over the cached out-runs, B-wedges from one
       adjacency attach on the DAG edges' dst (hub in-degree × ≈0
       out-degree stays bounded), one groupBy per pair, then C per pair
       as |out(x) ∩ out(y)| via two left attaches and one fused
       aggregation; pairs of C-wedges via the Σ C(A,2) duality. The
       attaches are GraphContext.attach_adj's: map-side broadcast joins
       under BROADCAST_MAX_EDGES, hub-split shuffle joins above it (the
       mega-hub's in-degree lives on the key side of every one)."""
    with GraphContext(edges) as ctx:
        n = _cycle4(ctx)
    return local_frame(edges.sparkSession, [(n,)], "n_cycles long")


def _run_pairs(runs: DataFrame) -> DataFrame:
    """(x, y), x < y: every unordered pair of distinct ids within each
    sorted `adj` run, each exactly once. One codegen posexplode + slice +
    explode: the slice after position i holds exactly the y > x
    partners. The first cut generated pairs with transform/filter
    lambdas — higher-order array functions run INTERPRETED per element
    (the minhash lesson), ~2× the pair count in expression-walk
    evaluations."""
    return runs.select(F.posexplode("adj").alias("i", "x"), "adj").select(
        F.col("x"),
        F.explode(F.expr("slice(adj, i + 2, size(adj) - i - 1)")).alias("y"),
    )


def _cycle4(ctx: GraphContext) -> int:
    """cycle4_count's two routes over a live context; EAGER, so the
    context's caches serve every action."""
    sc = ctx.und.sparkSession.sparkContext
    if ctx.cycle4_full_enum():
        # The A/B/C split exists to AVOID enumerating hub wedges on
        # skewed graphs; under route 1's no-skew guard every wedge is
        # enumerable, and A ∪ B ∪ C at a center c is simply ALL
        # unordered pairs of distinct neighbours of c — so ONE shuffle
        # builds the full sorted neighbour run per vertex (no direction
        # flags, no conditional collect_lists) and one pair generator
        # emits each pair exactly once (a union of two generator
        # branches recomputed the whole run-build subtree per branch:
        # no runtime exchange reuse across union branches).
        runs = adjacency(ctx.und)
        # |V| rows feed a Σ C(deg,2)-row explode: round-robin them over
        # the cores FIRST or AQE coalesces the tiny input to a handful
        # of partitions and the generators run nearly serially
        # (measured: 91 s vs 13 s at sf0.1)
        runs = runs.repartition(sc.defaultParallelism * 4)
        P = 1 << 32
        # x < y, so the packed key x·2³² + y is canonical
        pairs = _run_pairs(runs).select(
            (F.col("x").cast("bigint") * F.lit(P) + F.col("y")).alias("k")
        )
        # explicit repartition ON the key sized from the known wedge
        # count (8 bytes/row, ~16 MB target per task, floor at 2×cores):
        # the groupBy then needs no second exchange and no map-side
        # partial pass (121M wedges → 66M groups: partial agg reduced
        # almost nothing and built the hash tables twice)
        n_wedges = ctx.n_wedges // 2
        n_agg = max(
            2 * sc.defaultParallelism, min(2048, n_wedges // 2_000_000)
        )
        row = (
            pairs.repartition(n_agg, "k")
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.expr(
                    "coalesce(sum(n * (n - 1) DIV 2), 0L) DIV 2"
                ).cast("long").alias("n_cycles")
            )
            .first()
        )
        return int(row["n_cycles"])
    # A-wedges: all unordered pairs within each sorted out-run
    aw = _run_pairs(ctx.adj).select("x", "y", F.lit(1).alias("is_a"))
    # B-wedges a→c→b: per DAG edge, explode the dst's out-run
    bw = (
        ctx.attach_adj(ctx.fwd, "dst", "adj")
        .select(F.col("src").alias("a"), F.explode("adj").alias("b"))
        .select(
            F.least("a", "b").alias("x"),
            F.greatest("a", "b").alias("y"),
            F.lit(0).alias("is_a"),
        )
    )
    pairs = (
        aw.unionByName(bw)
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("nab"), F.sum("is_a").alias("na"))
    )
    # Cw attaches by LEFT joins (no run ⇒ Cw = 0; Cw only matters where
    # AB > 0, its pure pairs are the Σ C(A,2) term), so all three terms
    # fuse into one aggregation over the groupBy
    cw = ctx.attach_adj(
        ctx.attach_adj(pairs, "x", "ax", "left"), "y", "ay", "left"
    )
    row = (
        cw.select(
            (
                F.expr("nab * (nab - 1) DIV 2 + na * (na - 1) DIV 2")
                + F.col("nab")
                * F.when(
                    F.col("ax").isNotNull() & F.col("ay").isNotNull(),
                    F.size(F.array_intersect("ax", "ay")),
                ).otherwise(F.lit(0))
            ).alias("v")
        )
        .agg(F.expr("coalesce(sum(v), 0L) DIV 2").cast("long").alias("n_cycles"))
        .first()
    )
    return int(row["n_cycles"])


def _k4_counts(edges: DataFrame) -> dict[str, int]:
    """All six connected 4-vertex edge-induced motif counts, {name:
    count}, via closed-form counting —
    the reference's candidate-size / binomial / inclusion-exclusion
    shortcuts (D2-D4, core/PatternMatching.hh:1741-1857) generalized to
    the whole k=4 catalog. Never enumerates a 4-vertex occurrence: only
    degrees, the triangle list, per-edge/per-vertex triangle counts, pair
    codegrees, and the 4-clique frontier.

    Edge-induced identities:
      star4    = Σ_v C(deg v, 3)
      path4    = Σ_{(u,v)∈E} (deg u − 1)(deg v − 1) − 3·triangles
      tailed   = Σ_v t_v · (deg v − 2)
      diamond  = Σ_e C(t_e, 2)        (pairs of triangles sharing an edge)
      cycle4   = ½ Σ_{u<v} C(codeg(u,v), 2)
      clique4  = oriented-DAG frontier count

    At 100 TB every term is one shuffle on a graph key; the cycle4 term
    runs over the degree-ordered DAG (see cycle4_count — Σ outdeg² plus
    Σ indeg·outdeg rows, hub-split, never the unoriented Σ deg² wedge
    fan-out a zipf mega-hub turns into ~10¹² rows in one key); this
    replaces the Θ(Σ deg³)-row generic join chain that path4/star4 would
    otherwise cost."""
    from concurrent.futures import ThreadPoolExecutor

    from peregrine_spark.operators.patterns import clique_count
    from peregrine_spark.operators.triangles import triangles

    with GraphContext(edges) as ctx:
        can, deg = ctx.can, ctx.deg
        # Cache the DAG and its runs under this context: triangles(),
        # clique_count() and cycle4_count() on the same edges open their
        # own contexts, which read this one's caches. Fill them up front
        # so the concurrent terms below never race to fill the same
        # cache: the stats fill the canonical set and degree table, the
        # triangle count the DAG, its runs and the triangle list.
        ctx.adj
        tri = ctx.cache(triangles(edges))
        n_tri = tri.count()

        def term_star4() -> int:
            # stars: the exact-binomial single-value aggregator
            return int(_star_sum(deg, 3).first()["n_matches"])

        def term_mid() -> int:
            # middle-edge extension counts
            dsrc = deg.select(F.col("id").alias("src"), F.col("deg").alias("_du"))
            ddst = deg.select(F.col("id").alias("dst"), F.col("deg").alias("_dv"))
            return int(
                can.join(F.broadcast(dsrc), "src")
                .join(F.broadcast(ddst), "dst")
                .agg(
                    F.sum(
                        (F.col("_du") - 1).cast("long") * (F.col("_dv") - 1)
                    ).alias("s")
                )
                .collect()[0]["s"]
                or 0
            )

        def term_tailed() -> int:
            # per-vertex triangle participation → tailed triangles
            ends = (
                tri.select(F.col("u").alias("id"))
                .union(tri.select(F.col("v").alias("id")))
                .union(tri.select(F.col("w").alias("id")))
            )
            t_v = ends.groupBy("id").agg(F.count(F.lit(1)).alias("t"))
            return int(
                t_v.join(F.broadcast(deg), "id")
                .agg(F.sum(F.col("t") * (F.col("deg") - 2)).alias("s"))
                .collect()[0]["s"]
                or 0
            )

        def term_diamond() -> int:
            # per-edge triangle counts → diamonds (triangle pairs per edge)
            tri_edges = tri.select(
                F.explode(
                    F.array(
                        F.struct(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")),
                        F.struct(F.least("u", "w").alias("a"), F.greatest("u", "w").alias("b")),
                        F.struct(F.least("v", "w").alias("a"), F.greatest("v", "w").alias("b")),
                    )
                ).alias("e")
            ).select("e.a", "e.b")
            t_e = tri_edges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("t"))
            return int(
                t_e.agg(
                    # integer DIV: '/' is double division, exact below 2^53
                    F.sum(F.expr("t * (t - 1) DIV 2")).alias("s")
                ).collect()[0]["s"]
                or 0
            )

        def term_cycle4() -> int:
            # 4-cycles via packed wedge keys (never Σ deg² hub fan-out)
            return int(cycle4_count(edges).collect()[0]["n_cycles"])

        def term_clique4() -> int:
            return int(clique_count(edges, 4).first()["n_cliques"])

        # the six terms are independent single-value aggregations over the
        # shared (materialized) caches — run them as concurrent Spark jobs
        # so each job's straggler tail back-fills with the next one's tasks
        # (guide §2.6; sequentially they were ~10 driver-latency-bound jobs)
        terms = [
            term_star4, term_mid, term_tailed,
            term_diamond, term_cycle4, term_clique4,
        ]
        with ThreadPoolExecutor(max_workers=len(terms)) as pool:
            e_star4, mid, e_tailed, e_diamond, e_cycle4, e_clique4 = [
                f.result() for f in [pool.submit(t) for t in terms]
            ]

    return {
        "path4": int(mid) - 3 * n_tri,
        "star4": int(e_star4),
        "cycle4": int(e_cycle4),
        "tailed_triangle": int(e_tailed),
        "diamond": int(e_diamond),
        "clique4": int(e_clique4),
    }


def star_count(edges: DataFrame, k: int) -> DataFrame:
    """Closed-form k-star count: Σ_v C(deg(v), k) — the reference's
    binomial counting shortcut (D3, core/PatternMatching.hh:129-147,
    1788-1826) for the single-order-group case. One groupBy + one agg;
    never enumerates a single star. Single row (n_matches,)."""
    from peregrine_spark.operators.graph import degrees

    return _star_sum(degrees(edges), k)


def _star_sum(deg: DataFrame, k: int) -> DataFrame:
    """Σ_v C(deg(v), k) over an (id, deg) table, as one row (n_matches,).
    Exact integer arithmetic in decimal(38,0): raw falling factorials
    summed per-row (full 10^(37/k) per-degree budget — a mega-hub is fine
    to deg ≈ 2.5e7 at k=5), ONE exact ÷ k! on the aggregated total (the
    DuckDB oracle mirrors this with HUGEINT // k!); raises rather than
    silently NULL-overflowing past the int64 result range."""
    from peregrine_spark.operators.arith import sum_binom_exact

    return deg.agg(
        sum_binom_exact(F.col("deg"), k).cast("long").alias("n_matches")
    )


def mni_support(matches: DataFrame, pattern: SmallGraph) -> int:
    """Minimum-image-based (MNI) support of a pattern given its
    materialized matches (columns v<i>): for each automorphism orbit, the
    domain is the set of data vertices appearing in ANY of the orbit's
    positions (the reference's Domain unions every set position,
    apps/Domain.hh:19-40); support = min domain size over orbits.

    ONE Spark job for ALL orbits: explode every (orbit, position) into
    tagged rows and count distinct per orbit in a single aggregation —
    the match join runs once, not once per orbit (a 3-orbit pattern used
    to re-run the whole enumeration three times)."""
    reg = set(pattern.regular_vertices())
    orbits = [
        [p for p in orbit if p in reg]
        for orbit in pattern.automorphic_sets()
        if any(p in reg for p in orbit)
    ]
    tagged = matches.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("o"), F.col(f"v{p}").alias("x"))
                    for i, orbit in enumerate(orbits)
                    for p in orbit
                ]
            )
        ).alias("s")
    ).select("s.o", "s.x")
    doms = tagged.groupBy("o").agg(F.count_distinct("x").alias("n")).collect()
    if not doms:  # zero matches → every domain is empty
        return 0
    return int(min(r["n"] for r in doms))
