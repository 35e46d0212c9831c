"""Executor-side pattern matching: compile a SmallGraph into a chain of
DataFrame joins (the Spark restatement of the reference's matching
dataflow, /root/reference/core/PatternMatching.hh):

- adjacency extension  = equi-join against the undirected edge table (C1)
- symmetry breaking    = `col(u) < col(v)` predicates from the pattern's
  automorphism analysis, pushed into the joins by Catalyst (C2/B2)
- anti-edge            = left_anti join (C3)
- label filter         = semi-join against a (id, label) table (C4)
- distinctness         = `!=` predicates for unordered pairs (C6)
- counting             = agg(count) — no match materialization (D1)

Cliques take the fast path (total order + frontier intersection —
core/Graph.hh:1062-1073): iterated explode + array_intersect over the
degree-ordered DAG's adjacency arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peregrine_spark.operators.graph import GraphContext, undirected
from peregrine_spark.plans.patterns import SmallGraph
from peregrine_spark.session import local_frame


def _vcol(p: int) -> str:
    return f"v{p}"


def _transitive_closure(pairs: set[tuple[int, int]]) -> set[tuple[int, int]]:
    closure = set(pairs)
    changed = True
    while changed:
        changed = False
        for a, b in list(closure):
            for c, d in list(closure):
                if b == c and (a, d) not in closure:
                    closure.add((a, d))
                    changed = True
    return closure


def _tail_group_size(pattern: SmallGraph, order: list[int], conds) -> int:
    """Size t of the maximal counting-only suffix of the matching order —
    the reference's sibling/order groups (B5, core/Graph.hh:1270-1543):
    trailing vertices that are mutually interchangeable (identical
    neighbour set inside the prefix, no edges among themselves, a full
    symmetry chain between them, identical order bounds vs the prefix)
    can be COUNTED via C(|candidates|, t) instead of enumerated
    (core/PatternMatching.hh:1741-1857). Always ≥ 1 for connected
    unlabelled anti-free patterns (the last vertex alone qualifies)."""
    best = 0
    for t in range(1, len(order) - 1 + 1):
        G = order[-t:]
        prefix = order[:-t]
        if not prefix:
            break
        pset = set(prefix)
        Ns = [pattern.neighbours(g) for g in G]
        if any(not N or not N <= pset for N in Ns):
            break
        if any(N != Ns[0] for N in Ns):
            break
        if any(pattern.anti_neighbours(g) for g in G):
            break
        # full chain among the group members
        if any(
            (a, b) not in conds and (b, a) not in conds
            for i, a in enumerate(G)
            for b in G[i + 1 :]
        ):
            break
        # identical prefix bounds for every member (transitive-closure
        # artifacts across the chain disqualify — stay exact, shrink t)
        lo = [frozenset(q for q in prefix if (q, g) in conds) for g in G]
        hi = [frozenset(q for q in prefix if (g, q) in conds) for g in G]
        if any(s != lo[0] for s in lo) or any(s != hi[0] for s in hi):
            break
        best = t
    return best


def match_pattern(
    edges: DataFrame,
    pattern: SmallGraph,
    labels: DataFrame | None = None,
    count_only: bool = True,
    known_labels: set[int] | None = None,
    group_by_label_of: int | None = None,
    tail_count: bool = True,
) -> DataFrame:
    """Match `pattern` in the graph given by `edges` (any edge list).

    Returns a single-row (n_matches,) DataFrame when count_only, else one
    row per symmetry-broken match with columns v<i> per REGULAR pattern
    vertex. Matches are edge-induced (anti-edges excluded explicitly);
    each subgraph occurrence is counted exactly once (automorphism-derived
    partial orders).

    Anti-vertices (vertices with only anti-edges) are NOT enumerated —
    they become a NOT-EXISTS constraint per the reference's semantics
    (core/PatternMatching.hh:381-487): the set of data vertices adjacent
    to every matched anti-parent must be exactly the matched pattern
    vertices that are pattern-adjacent to all anti-parents (labelled
    anti-vertex: at most that many candidates may carry its label).

    Partially-labelled patterns: a vertex labelled SmallGraph.WILDCARD
    ('*') matches data vertices whose label is NOT in `known_labels`
    (default: this pattern's own labels — core/Graph.hh:676-693,
    CHECK_LABEL macro). `group_by_label_of=<vertex>` returns per-label
    counts (label, n_matches) instead of one total — the reference's
    vector aggregation (D8) over the discovered label.

    Degree order: a plain count (no grouped output) whose join chain
    has an extension step ordered by a symmetry condition against a
    matched neighbour (triangles, cliques, cycles) compares vertices by
    (degree, id) instead of id — the Spark form of the reference's
    degree-desc renumbering (core/DataConverter.cc:283-287). Every such
    extension then joins against the ORIENTED edge table, whose
    out-degrees are O(sqrt E), so the matcher collapses to the oriented
    algorithm instead of fanning out Θ(Σ deg²) wedge rows. Counts are
    invariant (any strict total order picks exactly one representative
    per occurrence); WHICH data vertex lands at each automorphic
    position changes, so enumerated and grouped outputs keep plain id
    order, as do chains with no ordered extension (the orientation
    setup would be pure overhead). A degree-ordered count runs eagerly
    inside a GraphContext; every other result is lazy and leaves
    nothing cached."""
    pattern.validate_anti_vertices()
    pv = pattern.regular_vertices()
    antis = pattern.anti_vertices()
    if len(pv) < 2:
        raise ValueError("pattern needs ≥ 2 regular vertices")
    if known_labels is None:
        known_labels = pattern.known_labels()
    conds = _transitive_closure(set(pattern.symmetry_conditions()))
    order = pattern.matching_order()
    # B5 order-group counting: groups of interchangeable vertices are
    # COUNTED (binomial/inclusion-exclusion over candidate-set sizes),
    # never enumerated — only for pure counting of unlabelled anti-free
    # patterns (labels/antis/enumeration need the actual vertices).
    counting_ok = (
        tail_count
        and count_only
        and group_by_label_of is None
        and not antis
        and not pattern.labels
    )
    t_tail = 0
    if counting_ok and len(order) >= 3:
        t_tail = _tail_group_size(pattern, order, conds)
        if t_tail < 2:
            # a singleton "group" saves nothing: the enumeration loop's
            # final level is map-side (explode + partial agg, no extra
            # shuffle) and can use the lighter ORIENTED table, while the
            # count path pays a full-adjacency groupBy + join. The
            # binomial only pays for real order groups.
            t_tail = 0
    if counting_ok:
        # generalized multi-group counting (operators/groups.py) whenever
        # it beats both the symmetry-broken tail and plain enumeration —
        # the routing policy lives in groups.plan_profitable (single
        # source of truth; see its docstring for the three cases)
        plan = pattern.group_count_plan()
        if plan is not None:
            from peregrine_spark.operators.groups import (
                group_count,
                plan_profitable,
            )

            if plan_profitable(plan, t_tail=t_tail):
                return group_count(edges, pattern)
    # B4 multi-order selection: re-order the enumerated head so symmetry
    # conditions prune as early as possible (the trailing counted group
    # stays pinned; t_tail's validity is set-based, so it survives the
    # reorder). See SmallGraph.enumeration_order for the measurements.
    order = pattern.enumeration_order(conds, t_tail=t_tail, default=order)
    prefix = order[: len(order) - t_tail] if t_tail else order
    # orientation only pays when some EXTENSION join (step ≥ 2) can
    # use the oriented table — i.e. the new vertex is symmetry-ordered
    # against a matched true-neighbour (triangles, cliques, cycles).
    # Otherwise the orient()/degrees() setup is pure overhead. Tail
    # vertices are counted, not joined, so they don't count here.
    ordered_ext = any(
        (q, p) in conds or (p, q) in conds
        for i in range(2, len(prefix))
        for p in [prefix[i]]
        for q in prefix[:i]
        if q in pattern.neighbours(p)
    )
    degree_order = count_only and group_by_label_of is None and ordered_ext

    chain = (
        pattern, labels, count_only, known_labels, group_by_label_of,
        conds, order, prefix, t_tail,
    )
    if not degree_order:
        return _join_chain(*chain, und=undirected(edges), fwd=None, deg_df=None)
    # struct(deg, id) keys: lexicographic struct comparison IS the
    # (deg, id) total order, and the original id rides along. The
    # orientation and the matcher's own key mapping share the context's
    # degree table.
    with GraphContext(edges) as ctx:
        o = ctx.oriented()
        fwd = o.select(
            F.struct(F.col("sdeg").alias("deg"), F.col("src").alias("id")).alias("src"),
            F.struct(F.col("ddeg").alias("deg"), F.col("dst").alias("id")).alias("dst"),
        )
        und = fwd.union(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        out = _join_chain(*chain, und=und, fwd=fwd, deg_df=ctx.deg)
        if not count_only or group_by_label_of is not None:
            # lazy: reads the input again once the context has released
            # its caches
            return out
        # a count runs here, while the context's caches are live
        n = int(out.first()["n_matches"])
    return local_frame(edges.sparkSession, [(n,)], "n_matches long")


def _join_chain(
    pattern: SmallGraph,
    labels: DataFrame | None,
    count_only: bool,
    known_labels: set[int],
    group_by_label_of: int | None,
    conds: set[tuple[int, int]],
    order: list[int],
    prefix: list[int],
    t_tail: int,
    und: DataFrame,
    fwd: DataFrame | None,
    deg_df: DataFrame | None,
) -> DataFrame:
    """match_pattern's join chain over the undirected table `und`; with
    degree order, `fwd` is the oriented table and `deg_df` the (id, deg)
    table, and vertex keys are (deg, id) structs."""
    pv = pattern.regular_vertices()
    antis = pattern.anti_vertices()
    degree_order = fwd is not None

    def keyed_ids(id_df: DataFrame, colname: str) -> DataFrame:
        """Map a one-column (id) table into the matcher's key space."""
        if not degree_order:
            return id_df.select(F.col("id").alias(colname))
        return id_df.select("id").join(deg_df, "id").select(
            F.struct(F.col("deg"), F.col("id")).alias(colname)
        )

    def cond_between(a: int, b: int):
        """Predicate for a matched pair: < if ordered, != if not."""
        if (a, b) in conds:
            return F.col(_vcol(a)) < F.col(_vcol(b))
        if (b, a) in conds:
            return F.col(_vcol(b)) < F.col(_vcol(a))
        return F.col(_vcol(a)) != F.col(_vcol(b))

    def ext_table(q: int, p: int) -> DataFrame:
        """Edge rows (vcol(q), vcol(p)) for extending matched q to new p:
        the oriented table when the symmetry order fixes the direction."""
        if degree_order and (q, p) in conds:
            return fwd.select(F.col("src").alias(_vcol(q)), F.col("dst").alias(_vcol(p)))
        if degree_order and (p, q) in conds:
            return fwd.select(F.col("dst").alias(_vcol(q)), F.col("src").alias(_vcol(p)))
        return und.select(F.col("src").alias(_vcol(q)), F.col("dst").alias(_vcol(p)))

    def labelled(df: DataFrame, p: int, colname: str) -> DataFrame:
        if p in pattern.labels:
            if labels is None:
                raise ValueError("labelled pattern requires a labels DataFrame")
            if pattern.labels[p] == SmallGraph.WILDCARD:
                # '*' vertex: any label EXCEPT the known ones
                lab = labels.filter(
                    ~F.col("label").isin(list(known_labels))
                    if known_labels
                    else F.lit(True)
                )
            else:
                lab = labels.filter(F.col("label") == pattern.labels[p])
            return df.join(keyed_ids(lab, colname), colname, "left_semi")
        return df

    # seed: first two vertices in the order (adjacent for connected patterns)
    if len(prefix) >= 2:
        p0, p1 = order[0], order[1]
        if p1 in pattern.neighbours(p0):
            partial = ext_table(p0, p1)
        else:
            verts = und.select(F.col("src").alias(_vcol(p1))).distinct()
            partial = (
                und.select(F.col("src").alias(_vcol(p0))).distinct().crossJoin(verts)
            )
        partial = labelled(labelled(partial, p0, _vcol(p0)), p1, _vcol(p1))
        partial = partial.filter(cond_between(p0, p1))
    else:
        # pure order-group pattern (star): the one-vertex prefix IS the
        # adjacency table, built in the tail-count section below
        partial = None

    for i in range(2, len(prefix)):
        p = order[i]
        matched = order[:i]
        nbrs = [q for q in matched if q in pattern.neighbours(p)]
        anti = [q for q in matched if q in pattern.anti_neighbours(p)]
        newc = _vcol(p)
        if nbrs:
            # prefer a seed whose extension can use the oriented table
            ordered = [
                q for q in nbrs if (q, p) in conds or (p, q) in conds
            ]
            seed = ordered[0] if (degree_order and ordered) else nbrs[0]
            rest = [q for q in nbrs if q != seed]
            partial = partial.join(ext_table(seed, p), _vcol(seed))
        else:
            rest = []
            verts = und.select(F.col("src").alias(newc)).distinct()
            partial = partial.crossJoin(verts)
        # remaining adjacency constraints: semi-join per matched neighbour
        for q in rest:
            partial = partial.join(ext_table(q, p), [_vcol(q), newc], "left_semi")
        # anti-edges: the candidate must NOT be adjacent to q
        for q in anti:
            partial = partial.join(ext_table(q, p), [_vcol(q), newc], "left_anti")
        partial = labelled(partial, p, newc)
        for q in matched:
            partial = partial.filter(cond_between(q, p))

    if t_tail:
        # -- B5 order-group counting: per prefix match, intersect the FULL
        # adjacency arrays of the group's pattern-neighbours, filter by the
        # group's order bounds + distinctness vs non-neighbour matched
        # vertices, and add C(|candidates|, t) — the final level(s) are
        # never enumerated (reference: core/PatternMatching.hh:1741-1857).
        # The adjacency joins are plain (unhinted) equi-joins so AQE's
        # skew splitting can fan a hot vertex's rows.
        from peregrine_spark.operators.arith import sum_binom_exact

        G = order[-t_tail:]
        g0 = G[0]
        N = sorted(pattern.neighbours(g0))
        L = sorted(q for q in prefix if (q, g0) in conds)
        U = sorted(q for q in prefix if (g0, q) in conds)
        others = [m for m in prefix if m not in N]
        if len(N) == 1 and not L and not U:
            # degree short-circuit (the common star/tailed shape): the
            # candidate count is deg(v_N) minus the matched non-neighbour
            # vertices that are data-adjacent to v_N — degrees + one tiny
            # membership left-join per excluded vertex. Never touches an
            # adjacency ARRAY (a zipf mega-hub's array is ~10⁷ elements;
            # carrying it per prefix row would be the new bottleneck).
            q0 = N[0]
            degt = und.groupBy(F.col("src").alias(_vcol(q0))).agg(
                F.count(F.lit(1)).alias("_nd")
            )
            if partial is None:
                partial = degt
            else:
                partial = partial.join(degt, _vcol(q0))
            n = F.col("_nd")
            for k, m in enumerate(others):
                em = und.select(
                    F.col("src").alias(_vcol(q0)), F.col("dst").alias(_vcol(m))
                ).withColumn(f"_hit{k}", F.lit(1))
                partial = partial.join(em, [_vcol(q0), _vcol(m)], "left")
                n = n - F.coalesce(F.col(f"_hit{k}"), F.lit(0))
        else:
            adj_full = und.groupBy(F.col("src").alias("_aid")).agg(
                F.sort_array(F.collect_list("dst")).alias("_adj")
            )
            if partial is None:
                partial = adj_full.select(
                    F.col("_aid").alias(_vcol(N[0])), F.col("_adj").alias("_adj0")
                )
                arr = F.col("_adj0")
            else:
                arr = None
                for j, q in enumerate(N):
                    aq = adj_full.select(
                        F.col("_aid").alias(_vcol(q)), F.col("_adj").alias(f"_adj{j}")
                    )
                    partial = partial.join(aq, _vcol(q))
                    arr = (
                        F.col(f"_adj{j}")
                        if arr is None
                        else F.array_intersect(arr, F.col(f"_adj{j}"))
                    )

            if L or U or others:
                def _keep(e):
                    c = F.lit(True)
                    for q in L:
                        c = c & (e > F.col(_vcol(q)))
                    for q in U:
                        c = c & (e < F.col(_vcol(q)))
                    for m in others:
                        c = c & (e != F.col(_vcol(m)))
                    return c

                arr = F.filter(arr, _keep)
            n = F.size(arr)
        # exact guarded decimal(38,0) falling factorials, ONE ÷ t! on
        # the aggregated total (arith.sum_binom_exact — full per-row
        # product range, raises on overflow instead of NULL-summing)
        return partial.select(n.alias("_n")).agg(
            sum_binom_exact(F.col("_n"), t_tail)
            .cast("long")
            .alias("n_matches")
        )

    out_cols = [_vcol(p) for p in pv]
    partial = partial.select(*out_cols)

    # -- anti-vertex NOT-EXISTS constraints (reference check_anti_vertices,
    # core/PatternMatching.hh:381-487): per anti-vertex, count the data
    # vertices adjacent to EVERY matched anti-parent (one join + semi-joins
    # + a groupBy over the match columns — never materializes the filler).
    for av in antis:
        S = sorted(pattern.anti_neighbours(av))
        reg_v = [
            q for q in pv if S and all(q in pattern.neighbours(u) for u in S)
        ]
        w = und.select(F.col("src").alias(_vcol(S[0])), F.col("dst").alias("_w"))
        wj = partial.join(w, _vcol(S[0]))
        for u in S[1:]:
            e_u = und.select(F.col("src").alias(_vcol(u)), F.col("dst").alias("_w"))
            wj = wj.join(e_u, [_vcol(u), "_w"], "left_semi")
        av_label = pattern.labels.get(av)
        if av_label is not None and av_label != SmallGraph.WILDCARD:
            # labelled anti-vertex: at most c candidates may carry its
            # label, c = regular non-anti-parent pattern vertices with it
            if labels is None:
                raise ValueError("labelled pattern requires a labels DataFrame")
            c = sum(
                1
                for q in pv
                if q not in S and pattern.labels.get(q) == av_label
            )
            lab = labels.filter(F.col("label") == av_label)
            wj = wj.join(keyed_ids(lab, "_w"), "_w", "left_semi")
            bound = c
            cmp = "le"
        else:
            # unlabelled (or '*') anti-vertex: the candidate set must be
            # exactly the matched reg_v (m(reg_v) ⊆ candidates always, so
            # |candidates| == |reg_v| is the reference's equality check)
            bound = len(reg_v)
            cmp = "eq"
        cnt = wj.groupBy(*out_cols).agg(F.count(F.lit(1)).alias("_n"))
        joined = partial.join(cnt, out_cols, "left").withColumn(
            "_n", F.coalesce("_n", F.lit(0))
        )
        if cmp == "eq":
            partial = joined.filter(F.col("_n") == bound).select(*out_cols)
        else:
            partial = joined.filter(F.col("_n") <= bound).select(*out_cols)

    if degree_order and (group_by_label_of is not None or not count_only):
        # unwrap (deg, id) struct keys back to plain vertex ids
        partial = partial.select(
            *[F.col(c).getField("id").alias(c) for c in out_cols]
        )

    if group_by_label_of is not None:
        if labels is None:
            raise ValueError("group_by_label_of requires a labels DataFrame")
        key = _vcol(group_by_label_of)
        lab = labels.select(F.col("id").alias(key), "label")
        return (
            partial.join(lab, key)
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_matches"))
        )
    if count_only:
        return partial.agg(F.count(F.lit(1)).alias("n_matches"))
    return partial.select(*out_cols)


def clique_count(edges: DataFrame, k: int) -> DataFrame:
    """Exact k-clique count via the oriented-DAG frontier intersection
    (Peregrine's clique fast path as Spark array ops). Single row
    (n_cliques,). Intermediates bounded by (k-1)-clique count × candidate
    runs; out-degrees in the DAG are O(sqrt E).

    Every adjacency attach is GraphContext.attach_adj: a map-side
    broadcast join when the whole adjacency fits (no frontier row ever
    crosses an exchange), a hub-split shuffle join otherwise — a zipf
    mega-hub's DAG in-degree can approach |E|, and its frontier
    multiplicity the (k-1)-clique count; either would pin a whole stage
    on one task.

    EAGER: the count runs inside the context, which then releases its
    caches (inside an enclosing context on the same edges, it reads that
    context's canonical set and degree table instead of building them)."""
    if k < 3:
        raise ValueError("k ≥ 3")
    with GraphContext(edges) as ctx:
        # frontier after matching the base edge (v1≺v2): candidates for v3..
        front = ctx.edge_runs().select(
            F.array_intersect("adj_u", "adj_v").alias("cand")
        )
        for _ in range(k - 3):
            exploded = front.select(F.explode("cand").alias("w"), "cand")
            front = ctx.attach_adj(exploded, "w", "a_w").select(
                F.array_intersect("cand", "a_w").alias("cand")
            )
        row = front.agg(
            F.coalesce(F.sum(F.size("cand")), F.lit(0))
            .cast("long")
            .alias("n_cliques")
        ).first()
    return local_frame(edges.sparkSession, [(int(row["n_cliques"]),)], "n_cliques long")
