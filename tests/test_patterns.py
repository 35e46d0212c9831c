"""Pattern layer: analysis (automorphisms/conditions/order), the compiled
join-chain matcher, and the clique fast path — vs the brute-force oracle
(shape-parity with /root/reference/core/unittests/{Graph,PatternMatching}_test.hh)."""

import math

import pytest
from pyspark.sql import functions as F

from peregrine_spark import reference as ref
from peregrine_spark.operators.patterns import clique_count, match_pattern
from peregrine_spark.plans.patterns import SmallGraph
from tests import golden


# ---------------------------------------------------------------- analysis
def test_parser_reference_format():
    g = SmallGraph.from_text("1 2\n2 3\n1 3 0\n")  # edge, edge, anti-edge
    assert set(g.edges) == {(1, 2), (2, 3)}
    assert g.anti_edges == [(1, 3)]
    lab = SmallGraph.from_text("1 7 2 9\n")
    assert lab.edges == [(1, 2)] and lab.labels == {1: 7, 2: 9}


def test_automorphisms_counts():
    assert len(SmallGraph.clique(3).automorphisms()) == 6
    assert len(SmallGraph.clique(4).automorphisms()) == 24
    assert len(SmallGraph.path(3).automorphisms()) == 2
    assert len(SmallGraph.star(3).automorphisms()) == 6  # 3! leaf perms
    assert len(SmallGraph.cycle(4).automorphisms()) == 8  # dihedral


def test_symmetry_conditions_form_total_order_on_cliques():
    conds = SmallGraph.clique(4).symmetry_conditions()
    # enough conditions to leave exactly one representative per 24 autos
    assert len(conds) >= 3
    g = SmallGraph.clique(4)
    # conditions must be consistent (acyclic)
    assert all(a < b or (b, a) not in conds for a, b in conds)
    assert g.automorphic_sets() == [[1, 2, 3, 4]]


def test_matching_order_connected():
    g = SmallGraph.from_text("1 2\n2 3\n3 4\n")  # path
    order = g.matching_order()
    for i in range(1, len(order)):
        assert any(q in g.neighbours(order[i]) for q in order[:i])


def test_enumeration_order_selection():
    """B4 multi-order selection: the chosen order stays connected, is a
    permutation of the default, pins the tail, and binds symmetry-
    condition endpoints no later than the default (Σ-activity score)."""
    from peregrine_spark.operators.patterns import _transitive_closure

    def activity(g, o, conds):
        s, act, bound = 0, 0, set()
        for v in o:
            act += sum(
                1 for a, b in conds
                if (a == v and b in bound) or (b == v and a in bound)
            )
            bound.add(v)
            s += act
        return s

    cases = [
        SmallGraph.cycle(6),
        SmallGraph.from_text("1 2\n2 3\n1 3\n3 4\n"),  # tailed triangle
        SmallGraph.from_text("1 2\n2 3\n3 4\n4 5\n5 1\n1 3\n"),  # house
        SmallGraph.path(5),
        SmallGraph.clique(4),
    ]
    for g in cases:
        conds = _transitive_closure(set(g.symmetry_conditions()))
        default = g.matching_order()
        chosen = g.enumeration_order(conds)
        assert sorted(chosen) == sorted(default)
        for i in range(1, len(chosen)):
            assert any(q in g.neighbours(chosen[i]) for q in chosen[:i])
        assert activity(g, chosen, conds) >= activity(g, default, conds)
    # tail pinning: the trailing group survives the reorder
    tg = SmallGraph.from_text("1 2\n2 3\n1 3\n3 4\n3 5\n")  # tri + 2 tails
    conds = _transitive_closure(set(tg.symmetry_conditions()))
    default = tg.matching_order()
    chosen = tg.enumeration_order(conds, t_tail=2, default=default)
    assert chosen[-2:] == default[-2:]
    # the measured 2.3x cycle6 winner binds cond (2,6) by step 3
    c6 = SmallGraph.cycle(6)
    conds6 = _transitive_closure(set(c6.symmetry_conditions()))
    chosen6 = c6.enumeration_order(conds6)
    two_six = {2, 6}
    assert two_six <= set(chosen6[:3])


# ---------------------------------------------------------------- matching
PATTERNS = {
    "triangle": SmallGraph.clique(3),
    "path3": SmallGraph.path(3),
    "star3": SmallGraph.star(3),
    "cycle4": SmallGraph.cycle(4),
    "clique4": SmallGraph.clique(4),
    "tailed_tri": SmallGraph.from_text("1 2\n2 3\n1 3\n3 4\n"),
    "open_wedge": SmallGraph.from_text("1 2\n2 3\n1 3 0\n"),  # strict path
}


@pytest.mark.parametrize("pname", list(PATTERNS))
@pytest.mark.parametrize("gname", ["k6", "two_tri_bridge", "disconnected"])
def test_match_counts_vs_oracle(spark, pname, gname):
    pat = PATTERNS[pname]
    pairs = golden.ALL[gname]
    e = golden.to_spark_edges(spark, pairs)
    got = match_pattern(e, pat).collect()[0].n_matches
    want = ref.pattern_count(pairs, pat)
    assert got == want, (pname, gname, got, want)


def test_k6_closed_forms(spark):
    e = golden.to_spark_edges(spark, golden.K6)
    assert match_pattern(e, SmallGraph.clique(3)).collect()[0][0] == 20
    assert match_pattern(e, SmallGraph.clique(4)).collect()[0][0] == 15
    # open wedges in a clique: none (every pair adjacent)
    assert match_pattern(e, PATTERNS["open_wedge"]).collect()[0][0] == 0
    # paths of 3 (edge-induced): C(6,3)*3 orderings? oracle confirms
    assert match_pattern(e, SmallGraph.path(3)).collect()[0][0] == ref.pattern_count(
        golden.K6, SmallGraph.path(3)
    )


@pytest.mark.parametrize("k", [3, 4, 5, 6])
def test_clique_fast_path_k6(spark, k):
    e = golden.to_spark_edges(spark, golden.K6)
    want = math.comb(6, k)
    assert clique_count(e, k).collect()[0].n_cliques == want


def test_clique_fast_path_matches_generic(spark, tiny_repo_files):
    from peregrine_spark.sources import ingest as ing

    e = ing.extract_edges(tiny_repo_files)
    fast = clique_count(e, 4).collect()[0].n_cliques
    generic = match_pattern(e, SmallGraph.clique(4)).collect()[0].n_matches
    assert fast == generic


def test_labelled_pattern(spark):
    pairs = golden.TWO_TRI_BRIDGE
    e = golden.to_spark_edges(spark, pairs)
    glab = {v: v % 2 for v in range(1, 7)}
    labels = spark.createDataFrame(list(glab.items()), "id long, label int")
    pat = SmallGraph.from_text("1 1 2 0\n")  # edge with labels (1)-(0)
    got = match_pattern(e, pat, labels=labels).collect()[0].n_matches
    want = ref.pattern_count(pairs, pat, graph_labels=glab)
    assert got == want


def test_anti_edge_on_star(spark):
    """In a star, every leaf pair is non-adjacent: open wedges = C(50,2)."""
    e = golden.to_spark_edges(spark, golden.STAR_HUB)
    got = match_pattern(e, PATTERNS["open_wedge"]).collect()[0].n_matches
    assert got == math.comb(50, 2)


# ----------------------------------------------------- anti-vertices (NOT-EXISTS)
# Data graphs and published truth values from the reference's unit tests,
# /root/reference/core/unittests/PatternMatching_test.hh:290-520.
S3 = [(1, 2), (1, 3)]                                  # wedge (star(3))
CL3 = [(1, 2), (1, 3), (2, 3)]
CL4 = [(u, v) for u in range(1, 5) for v in range(u + 1, 5)]
TWE = [(1, 2), (1, 3), (1, 4), (2, 3)]
SWD = [(1, 2), (1, 3), (1, 4), (2, 3), (3, 4)]
C4P = [(1, 2), (1, 4), (2, 3)]                         # 4-vertex path
AV_DATA = {"cl3": CL3, "twe": TWE, "swd": SWD, "cl4": CL4}


def _av_pattern(base, anti):
    g = SmallGraph(edges=list(base))
    for u, v in anti:
        g.add_anti_edge(u, v)
    return g


AV_CASES = [
    # (base edges, anti-edges, {data: truth}) — PatternMatching_test.hh:290-400
    (CL3, [(1, 4)], [3, 2, 2, 0]),
    (CL3, [(1, 4), (2, 4)], [3, 3, 4, 0]),
    (CL3, [(1, 4), (2, 4), (3, 4)], [1, 1, 2, 0]),
    (CL3, [(1, 4), (2, 4), (3, 4), (1, 5)], [3, 2, 2, 0]),
    # automorphic anti-vertices are redundant (test.hh:384)
    (CL3, [(1, 4), (1, 5)], [3, 2, 2, 0]),
    (S3, [(1, 4)], [3, 2, 2, 0]),
    # anti-vertex AND anti-edge interplay (test.hh:445)
    (S3, [(1, 4), (2, 3)], [0, 0, 0, 0]),
]


@pytest.mark.parametrize("base,anti,truths", AV_CASES)
def test_anti_vertex_reference_truths(spark, base, anti, truths):
    pat = _av_pattern(base, anti)
    for (gname, pairs), want in zip(AV_DATA.items(), truths):
        e = golden.to_spark_edges(spark, pairs)
        got = match_pattern(e, pat).collect()[0].n_matches
        assert got == want, (gname, anti, got, want)
        # the independent NumPy brute force must agree with the reference
        assert ref.pattern_count(pairs, pat) == want, (gname, anti)


def test_anti_vertex_path_base(spark):
    """p3 = 4-path + anti(4,5) on the c4-family data graphs
    (PatternMatching_test.hh:465-500): truths [2, 4, 2, 6, 2]."""
    pat = _av_pattern(C4P, [(4, 5)])
    datasets = [
        C4P,
        C4P + [(1, 5)],
        C4P + [(4, 5)],
        C4P + [(1, 5), (2, 5)],
        C4P + [(1, 5), (4, 5)],
    ]
    for pairs, want in zip(datasets, [2, 4, 2, 6, 2]):
        e = golden.to_spark_edges(spark, pairs)
        got = match_pattern(e, pat).collect()[0].n_matches
        assert got == want, (pairs, got, want)
        assert ref.pattern_count(pairs, pat) == want


def test_labelled_anti_vertex_reference_truths(spark):
    """Labelled anti-vertices (PatternMatching_test.hh:502-556): at most c
    candidates may carry the anti-vertex's label."""
    pat = _av_pattern(CL3, [(1, 4)])
    pat.labels = {1: 1, 2: 2, 3: 3, 4: 1}
    dgs3 = [
        (CL3, [1, 2, 3]), (TWE, [1, 2, 3, 4]), (TWE, [1, 2, 3, 1]),
        (SWD, [1, 2, 3, 4]), (SWD, [1, 2, 3, 1]),
        (CL4, [1, 2, 3, 4]), (CL4, [1, 2, 3, 1]),
    ]
    for (pairs, labs), want in zip(dgs3, [1, 1, 0, 1, 0, 1, 0]):
        glab = {i + 1: l for i, l in enumerate(labs)}
        e = golden.to_spark_edges(spark, pairs)
        labels = spark.createDataFrame(list(glab.items()), "id long, label int")
        got = match_pattern(e, pat, labels=labels).collect()[0].n_matches
        assert got == want, (pairs, labs, got, want)
        assert ref.pattern_count(pairs, pat, graph_labels=glab) == want

    pat.labels = {1: 1, 2: 2, 3: 1, 4: 1}
    dgs4 = [
        (CL3, [1, 2, 1]), (TWE, [1, 2, 1, 4]), (TWE, [1, 2, 1, 1]),
        (SWD, [1, 2, 1, 4]), (SWD, [1, 2, 1, 1]),
        (CL4, [1, 2, 1, 4]), (CL4, [1, 2, 1, 1]),
    ]
    for (pairs, labs), want in zip(dgs4, [2, 2, 1, 2, 0, 2, 0]):
        glab = {i + 1: l for i, l in enumerate(labs)}
        e = golden.to_spark_edges(spark, pairs)
        labels = spark.createDataFrame(list(glab.items()), "id long, label int")
        got = match_pattern(e, pat, labels=labels).collect()[0].n_matches
        assert got == want, (pairs, labs, got, want)
        assert ref.pattern_count(pairs, pat, graph_labels=glab) == want


def test_anti_vertex_smaller_id_raises(spark):
    """Anti-vertex ids must come after the regular vertices
    (AnalyzedPattern::check_anti_vertices, core/Graph.hh:695-733)."""
    pinv = SmallGraph(edges=[(2, 3), (2, 4), (3, 4)])
    pinv.add_anti_edge(1, 2)
    e = golden.to_spark_edges(spark, CL3)
    with pytest.raises(ValueError):
        match_pattern(e, pinv)


# ----------------------------------------------------- partially-labelled ('*')
def test_partially_labelled_edge(spark):
    """'*' matches only vertices whose label is NOT a known label
    (CHECK_LABEL macro, core/PatternMatching.hh:25-38; known labels
    core/DataGraph.cc:186-202)."""
    pairs = golden.TWO_TRI_BRIDGE
    glab = {1: 7, 2: 7, 3: 5, 4: 5, 5: 9, 6: 3}
    labels = spark.createDataFrame(list(glab.items()), "id long, label int")
    e = golden.to_spark_edges(spark, pairs)
    pat = SmallGraph(edges=[(1, 2)], labels={1: 5, 2: SmallGraph.WILDCARD})
    got = match_pattern(e, pat, labels=labels).collect()[0].n_matches
    # edges with one endpoint labelled 5 and the other NOT labelled 5:
    # 3-(1,2 lab7? no: known={5}) → (3,1)lab7 ok, (3,2)lab7 ok, (3,4) lab5 no,
    # (4,5)lab9 ok, (4,6)lab3 ok, (3,4) excluded both directions
    assert got == 4
    assert ref.pattern_count(pairs, pat, graph_labels=glab) == 4


def test_partially_labelled_grouped_counts(spark):
    """D8 vector aggregation: counts grouped by the discovered label."""
    pairs = golden.TWO_TRI_BRIDGE
    glab = {1: 7, 2: 7, 3: 5, 4: 5, 5: 9, 6: 3}
    labels = spark.createDataFrame(list(glab.items()), "id long, label int")
    e = golden.to_spark_edges(spark, pairs)
    pat = SmallGraph(edges=[(1, 2)], labels={1: 5, 2: SmallGraph.WILDCARD})
    rows = match_pattern(
        e, pat, labels=labels, group_by_label_of=2
    ).collect()
    got = {r.label: r.n_matches for r in rows}
    # star-center 3 (label 5) touches 1(7), 2(7); 4 (label 5) touches 5(9), 6(3)
    assert got == {7: 2, 9: 1, 3: 1}


def test_wildcard_known_labels_override(spark):
    pairs = golden.TWO_TRI_BRIDGE
    glab = {1: 7, 2: 7, 3: 5, 4: 5, 5: 9, 6: 3}
    labels = spark.createDataFrame(list(glab.items()), "id long, label int")
    e = golden.to_spark_edges(spark, pairs)
    pat = SmallGraph(edges=[(1, 2)], labels={1: 5, 2: SmallGraph.WILDCARD})
    # excluding label 7 as well leaves only the (4,5) and (4,6) edges
    got = match_pattern(
        e, pat, labels=labels, known_labels={5, 7}
    ).collect()[0].n_matches
    assert got == 2
    assert ref.pattern_count(pairs, pat, graph_labels=glab, known_labels={5, 7}) == 2


def test_min_vertex_cover_and_core_first_order():
    """B3: _min_vertex_cover returns a minimum CONNECTED cover (every
    edge touched, induced subgraph connected); matching_order puts it
    first."""
    from itertools import combinations

    cases = [
        SmallGraph.star(4),
        SmallGraph.clique(4),
        SmallGraph.cycle(5),
        SmallGraph.path(5),
        SmallGraph.from_text("1 2\n2 3\n1 3\n3 4\n"),  # tailed triangle
    ]

    def connected(sub, g):
        ss = set(sub)
        seen, fr = {next(iter(ss))}, [next(iter(ss))]
        while fr:
            x = fr.pop()
            for y in g.neighbours(x) & ss:
                if y not in seen:
                    seen.add(y)
                    fr.append(y)
        return seen == ss

    for g in cases:
        cover = g._min_vertex_cover()
        order = g.matching_order()
        assert sorted(order) == sorted(g.regular_vertices())
        if cover is None:
            continue
        cset = set(cover)
        assert all(a in cset or b in cset for a, b in g.edges)
        assert connected(cover, g)
        # minimal among CONNECTED covers
        for k in range(1, len(cover)):
            for sub in combinations(g.regular_vertices(), k):
                ss = set(sub)
                if all(a in ss or b in ss for a, b in g.edges):
                    assert not connected(sub, g), (g.edges, cover, sub)
        # core occupies the order prefix
        assert set(order[: len(cover)]) == cset
    assert SmallGraph.star(4).matching_order()[0] == 1


def test_enumeration_order_random_patterns(spark):
    """B4 multi-order robustness: random connected patterns enumerated
    through the score-chosen order must match the NumPy oracle (the
    fixed-pattern suites pin the common shapes; this sweeps odd ones —
    random edge sets, t_tail interplay, labelled-free enumeration)."""
    import random

    from peregrine_spark.operators.patterns import match_pattern

    pairs = golden.random_graph(12, 40, seed=7)
    e = golden.to_spark_edges(spark, pairs)
    rnd = random.Random(99)
    tried = 0
    while tried < 8:
        nv = rnd.choice([4, 5, 5, 6])
        ne = rnd.randint(nv - 1, min(nv * (nv - 1) // 2, nv + 3))
        es = rnd.sample(
            [(a, b) for a in range(1, nv + 1) for b in range(a + 1, nv + 1)],
            ne,
        )
        g = SmallGraph(edges=es)
        if len(g.vertices) != nv:
            continue
        from peregrine_spark.plans.generators import _connected

        if not _connected(g):
            continue
        tried += 1
        for tail_count in (True, False):
            got = match_pattern(
                e, g, count_only=True, tail_count=tail_count
            ).first()[0]
            want = ref.pattern_count(pairs, g)
            assert got == want, (es, tail_count, got, want)


def test_collapsed_partition_terms_match_labeled():
    """The multiset-collapsed inclusion–exclusion must equal the labeled
    set-partition expansion term-for-term (grouped by block-support
    multiset) for every group shape with Σt ≤ 7."""
    import itertools
    import math

    from peregrine_spark.operators.groups import _collapsed_partition_terms

    def labeled(t):
        slots = [g for g in range(len(t)) for _ in range(t[g])]
        idxs = list(range(len(slots)))

        def parts(items):
            if not items:
                yield []
                return
            head, rest = items[0], items[1:]
            for p in parts(rest):
                for i in range(len(p)):
                    yield p[:i] + [[head] + p[i]] + p[i + 1 :]
                yield [[head]] + p

        out = {}
        for P in parts(idxs):
            coeff = 1
            for B in P:
                coeff *= (-1) ** (len(B) - 1) * math.factorial(len(B) - 1)
            supp = tuple(
                sorted(tuple(sorted({slots[i] for i in B})) for B in P)
            )
            out[supp] = out.get(supp, 0) + coeff
        return {k: v for k, v in out.items() if v}

    shapes = [
        (2,), (3,), (5,), (7,), (1, 2), (2, 2), (3, 3), (1, 6),
        (1, 3, 3), (2, 2, 3), (1, 1, 1, 2), (1, 1, 1, 1, 1), (3, 4),
    ]
    for t in shapes:
        assert _collapsed_partition_terms(t) == labeled(t), t
    # Σt = 8 sanity: single group collapses to the 8-term falling-
    # factorial expansion, and total signed mass is Σ_P Π(|B|-1)! = 8!
    c8 = _collapsed_partition_terms((8,))
    assert len(c8) == 8
    assert sum(abs(v) for v in c8.values()) == math.factorial(8)


def test_group_count_all_k5_classes(spark):
    """Generalized B5 group counting (operators/groups.py): every one of
    the 21 k=5 isomorphism classes counted via core enumeration + group
    candidate-size arithmetic must equal the NumPy brute-force oracle on
    a dense-ish golden graph — no class falls back to enumeration here."""
    from peregrine_spark.operators.graph import GraphContext
    from peregrine_spark.operators.groups import group_count
    from peregrine_spark.plans.generators import all_connected

    pairs = golden.random_graph(12, 40, seed=7)
    e = golden.to_spark_edges(spark, pairs)
    ctx = GraphContext(e)
    for i, g in enumerate(all_connected(5)):
        plan = g.group_count_plan()
        assert plan is not None, i
        got = group_count(e, g, ctx=ctx).first()["n_matches"]
        want = ref.pattern_count(pairs, g)
        assert got == want, (i, got, want, plan)
    ctx.unpersist()


def test_group_count_shuffle_flow(spark):
    """The shuffle-plan flow (codegree table + tagged |NU|≥3 fan-out +
    membership-flag joins), forced by failing array mode's max-degree
    gate, must match the NumPy oracle — small graphs now default to the
    broadcast adjacency-array flow, so this pins the big-graph plan."""
    from peregrine_spark.operators.graph import GraphContext
    from peregrine_spark.operators.groups import group_count
    from peregrine_spark.plans.generators import all_connected

    pairs = golden.random_graph(12, 40, seed=11)
    e = golden.to_spark_edges(spark, pairs)
    ctx = GraphContext(e)
    ctx.max_deg = 200_000  # fails the array-mode degree gate
    assert not ctx.array_mode()
    for i, g in enumerate(all_connected(5)):
        if i % 4:
            continue  # cross-section; the full catalog runs array-mode above
        got = group_count(e, g, ctx=ctx).first()["n_matches"]
        want = ref.pattern_count(pairs, g)
        assert got == want, (i, got, want)
    ctx.unpersist()


def test_group_count_k6_structure_sample(spark):
    """k=6 classes sampled to cover every (core size, #groups, t-multiset,
    max |∪N|) structure the catalog contains (the full 112-class sweep is
    the motifs6 gate's job) — group_count vs the NumPy oracle."""
    from peregrine_spark.operators.graph import GraphContext
    from peregrine_spark.operators.groups import group_count
    from peregrine_spark.plans.generators import all_connected

    pairs = golden.random_graph(11, 46, seed=11)
    e = golden.to_spark_edges(spark, pairs)
    ctx = GraphContext(e)
    seen_structs = set()
    checked = 0
    for i, g in enumerate(all_connected(6)):
        core, groups = g.group_count_plan()
        struct = (
            len(core),
            tuple(sorted(len(m) for m, _ in groups)),
            max(len(s) for _, s in groups),
        )
        if struct in seen_structs:
            continue
        seen_structs.add(struct)
        got = group_count(e, g, ctx=ctx).first()["n_matches"]
        want = ref.pattern_count(pairs, g)
        assert got == want, (i, struct, got, want)
        checked += 1
    assert checked >= 10, seen_structs
    ctx.unpersist()


def test_match_pattern_routes_groups(spark):
    """match_pattern's auto policy must route multi-group patterns to the
    group counter and still agree with the NumPy oracle (integration of
    plan selection + counting)."""
    from peregrine_spark.plans.generators import all_connected

    pairs = golden.random_graph(12, 40, seed=7)
    e = golden.to_spark_edges(spark, pairs)
    cat5 = all_connected(5)
    # chair (2 groups), bull-like (3 groups), cycle5 (lone codeg), K2,3
    for g in (cat5[1], cat5[4], cat5[13], cat5[8]):
        got = match_pattern(e, g).first()["n_matches"]
        want = ref.pattern_count(pairs, g)
        assert got == want, (g.edges, got, want)


def test_group_count_decimal_mode(spark):
    """Force the decimal(38,0) row-arithmetic path (the 64-bit-mode bound
    check fails when ctx.max_deg is huge) and check group counts still
    equal the NumPy oracle — covers the budgeted product guard."""
    from peregrine_spark.operators.graph import GraphContext
    from peregrine_spark.operators.groups import group_count
    from peregrine_spark.plans.generators import all_connected

    pairs = golden.random_graph(12, 40, seed=7)
    e = golden.to_spark_edges(spark, pairs)
    ctx = GraphContext(e)
    ctx.max_deg = 10**12  # long-mode bound fails -> decimal path
    assert not ctx.und.rdd.isEmpty()
    cat = all_connected(5)
    for g in (cat[1], cat[4], cat[8], cat[13]):
        got = group_count(e, g, ctx=ctx).first()["n_matches"]
        assert got == ref.pattern_count(pairs, g), g.edges
    ctx.unpersist()


def test_group_count_k7_structure_sample(spark):
    """k=7 classes sampled to cover every (core size, #groups, t-multiset,
    max |∪N|) structure in the catalog (852 plannable classes, 0 residue)
    — group_count vs the NumPy oracle. The full catalog is the motifs7
    gate's job."""
    from peregrine_spark.operators.graph import GraphContext
    from peregrine_spark.operators.groups import group_count
    from peregrine_spark.plans.generators import all_connected

    pairs = golden.random_graph(11, 40, seed=17)
    e = golden.to_spark_edges(spark, pairs)
    ctx = GraphContext(e)
    seen_structs = set()
    checked = 0
    for i, g in enumerate(all_connected(7)):
        plan = g.group_count_plan()
        if plan is None:
            continue
        core, groups = plan
        struct = (
            len(core),
            tuple(sorted(len(m) for m, _ in groups)),
            max(len(s) for _, s in groups),
        )
        if struct in seen_structs:
            continue
        seen_structs.add(struct)
        got = group_count(e, g, ctx=ctx).first()["n_matches"]
        want = ref.pattern_count(pairs, g)
        assert got == want, (i, struct, got, want)
        checked += 1
        if checked >= 18:
            break
    assert checked >= 12, seen_structs
    ctx.unpersist()


def test_group_count_k8_structure_sample(spark):
    """k=8 classes: first-seen classes per (core size, t-multiset,
    max |∪N|) structure from the catalog head — group_count vs the NumPy
    oracle on a 10-vertex graph. Full-catalog evidence is the motifs8
    gate (9 classes incl. K8, value-hash vs generated DuckDB SQL)."""
    from peregrine_spark.operators.graph import GraphContext
    from peregrine_spark.operators.groups import group_count
    from peregrine_spark.plans.generators import all_connected

    pairs = golden.random_graph(10, 32, seed=23)
    e = golden.to_spark_edges(spark, pairs)
    ctx = GraphContext(e)
    seen_structs = set()
    checked = 0
    for i, g in enumerate(all_connected(8)[:220]):
        plan = g.group_count_plan()
        if plan is None:
            continue
        core, groups = plan
        struct = (
            len(core),
            tuple(sorted(len(m) for m, _ in groups)),
            max(len(s) for _, s in groups),
        )
        if struct in seen_structs:
            continue
        seen_structs.add(struct)
        got = group_count(e, g, ctx=ctx).first()["n_matches"]
        want = ref.pattern_count(pairs, g)
        assert got == want, (i, struct, got, want)
        checked += 1
        if checked >= 10:
            break
    assert checked >= 8, seen_structs
    ctx.unpersist()


def test_group_count_sql_oracle_vs_numpy():
    """The generated DuckDB group-count SQL (_group_count_subquery, the
    driver gate's oracle side for the k>=5 motif catalogs) must equal the
    NumPy oracle across every (core size, t-multiset, max |∪N|) structure
    in the k=5/6/7 catalogs — no Spark involved; this pins the ORACLE
    formulation itself."""
    import duckdb

    from peregrine_spark.plans.generators import all_connected
    from peregrine_spark.plans.oracles import _group_count_subquery

    pairs = golden.random_graph(11, 40, seed=17)
    con = duckdb.connect()
    con.execute("CREATE TABLE eg(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO eg VALUES (?, ?)", [list(p) for p in pairs])
    for stmt in [
        "CREATE VIEW ug AS SELECT src AS id, dst AS nbr FROM eg "
        "UNION ALL SELECT dst, src FROM eg",
        "CREATE TABLE degt AS SELECT id, COUNT(*) AS d FROM ug GROUP BY id",
        "CREATE TABLE pairw AS SELECT a.id AS w, a.nbr AS x, b.nbr AS y "
        "FROM ug a JOIN ug b ON a.id=b.id AND a.nbr<>b.nbr",
        "CREATE TABLE codegt AS SELECT x, y, COUNT(*) AS cd FROM pairw "
        "GROUP BY 1,2",
    ]:
        con.execute(stmt)
    checked = 0
    for k in (5, 6, 7):
        seen = set()
        for i, g in enumerate(all_connected(k)):
            plan = g.group_count_plan()
            if plan is None:
                continue
            core, groups = plan
            struct = (
                len(core),
                tuple(sorted(len(m) for m, _ in groups)),
                max(len(s) for _, s in groups),
            )
            if struct in seen:
                continue
            seen.add(struct)
            sql = _group_count_subquery(g, plan, "ug", "degt", "codegt")
            got = con.execute(sql).fetchone()[0]
            want = ref.pattern_count(pairs, g)
            assert got == want, (k, i, struct, got, want)
            checked += 1
            if len(seen) >= 16:
                break
    assert checked >= 40
