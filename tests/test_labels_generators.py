"""Pattern generators (all-connected enumeration, graph6, FSM extension),
label discovery, closed-form star counts, and the FSM driver."""

import contextlib
import math

import pytest
from pyspark.sql import functions as F

from peregrine_spark import reference as ref
from peregrine_spark.operators.labels import (
    discover_edge_labels,
    discover_star_labels,
    fsm,
)
from peregrine_spark.operators.motifs import star_count
from peregrine_spark.operators.patterns import match_pattern
from peregrine_spark.plans.generators import all_connected, decode_graph6, extend_by_edge
from peregrine_spark.plans.patterns import SmallGraph
from peregrine_spark.session import local_frame
from tests import golden


def test_all_connected_class_counts():
    assert [len(all_connected(k)) for k in (2, 3, 4, 5)] == [1, 2, 6, 21]


def test_graph6_roundtrip_known():
    tri = decode_graph6("Bw")
    assert set(tri.edges) == {(1, 2), (1, 3), (2, 3)}
    # path on 3 vertices in graph6 is "BW" (bits 110)
    p3 = decode_graph6("BW")
    assert len(p3.edges) == 2


def test_extension_dedupes_isomorphic():
    # extending a single edge: edge+pendant (path3) is the only class
    out = extend_by_edge([SmallGraph.path(2)])
    assert len(out) == 1
    assert out[0].canonical_form() == SmallGraph.path(3).canonical_form()


@pytest.mark.parametrize("k", [2, 3, 4])
def test_star_closed_form_matches_matcher(spark, k):
    for gname in ["k6", "two_tri_bridge", "star_hub"]:
        e = golden.to_spark_edges(spark, golden.ALL[gname])
        closed = star_count(e, k).collect()[0].n_matches
        matched = match_pattern(e, SmallGraph.star(k)).collect()[0].n_matches
        assert closed == matched, (gname, k, closed, matched)


def test_star_hub_closed_form_value(spark):
    e = golden.to_spark_edges(spark, golden.STAR_HUB)
    assert star_count(e, 3).collect()[0].n_matches == math.comb(50, 3)


@pytest.fixture()
def labelled_graph(spark):
    # two triangles + bridge; labels: {1,2,3}→0, {4,5,6}→1
    e = golden.to_spark_edges(spark, golden.TWO_TRI_BRIDGE)
    labels = local_frame(
        spark, [(v, 0 if v <= 3 else 1) for v in range(1, 7)], "id long, label int"
    )
    return e, labels


def test_discover_edge_labels(spark, labelled_graph):
    e, labels = labelled_graph
    got = {(r.l1, r.l2): r.n for r in discover_edge_labels(e, labels).collect()}
    assert got == {(0, 0): 3, (1, 1): 3, (0, 1): 1}


def test_discover_star_labels(spark, labelled_graph):
    e, labels = labelled_graph
    rows = discover_star_labels(e, labels).collect()
    total = sum(r.n for r in rows)
    # wedge total = sum C(deg,2): degrees are 2,2,3,3,2,2 → 1+1+3+3+1+1
    assert total == 10


def test_fsm_two_triangles(spark, labelled_graph):
    e, labels = labelled_graph
    out = fsm(spark, e, labels, min_support=2, max_edges=2)
    # frequent single edges: (0,0) support 3? domains: positions both label-0
    by_edges = {}
    for p, s in out:
        by_edges.setdefault(len(p.edges), []).append((p.labels, s))
    assert 1 in by_edges
    single = {tuple(sorted(lab.values())): s for lab, s in by_edges[1]}
    assert single[(0, 0)] == 3 and single[(1, 1)] == 3
    assert (0, 1) not in single  # bridge edge: each domain has 1 vertex
    # extensions exist at level 2 (e.g. label-0 wedge, support ≥ 2)
    assert 2 in by_edges and len(by_edges[2]) >= 1


def test_k6_catalog_verified():
    """The embedded graph6 catalog: 112 classes (OEIS A001349 connected
    graphs on 6 nodes), each connected on exactly 6 vertices, pairwise
    non-isomorphic; K6 is a member. Mirrors the reference's decoded
    core/graphs/graph6c.g6 catalog."""
    from peregrine_spark.plans.generators import _connected, all_connected
    from peregrine_spark.plans.patterns import SmallGraph

    cat = all_connected(6)
    assert len(cat) == 112
    keys = set()
    for g in cat:
        assert len(g.vertices) == 6
        assert _connected(g)
        keys.add(g.canonical_form())
    assert len(keys) == 112
    assert SmallGraph.clique(6).canonical_form() in keys


def test_k6_vertex_induced_partition_identity():
    """On any connected 6-vertex graph, the vertex-induced counts over the
    full k=6 catalog sum to exactly 1 (the graph itself) — a global
    consistency check of catalog + back-substitution at k=6, computed with
    the pure-Python oracle (no Spark job)."""
    from peregrine_spark import reference as ref
    from peregrine_spark.operators.motifs import (
        _as_complement_anti,
        all_motifs,
    )

    g_edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 6), (2, 5)]
    total = 0
    hits = []
    for name, pat in all_motifs(6).items():
        c = ref.pattern_count(g_edges, _as_complement_anti(pat))
        if c:
            hits.append((name, c))
        total += c
    assert total == 1, hits


def test_mni_star2_supports_vs_match_based(spark):
    """The distributed 2-star MNI support table must equal the match-based
    mni_support (orbit-domain unions over materialized matches) for every
    labelled 2-star — independent formulations on both sides."""
    from peregrine_spark.operators.labels import mni_star2_supports
    from peregrine_spark.operators.motifs import mni_support
    from peregrine_spark.operators.patterns import match_pattern
    from tests import golden

    pairs = golden.TWO_TRI_BRIDGE
    glab = {1: 7, 2: 7, 3: 5, 4: 5, 5: 9, 6: 3}
    e = golden.to_spark_edges(spark, pairs)
    labels = local_frame(spark, list(glab.items()), "id long, label int")
    got = {
        (r.center_label, r.l1, r.l2): r.support
        for r in mni_star2_supports(e, labels).collect()
    }
    assert got, "no 2-stars found"
    for (cl, l1, l2), sup in got.items():
        pat = SmallGraph(edges=[(1, 2), (1, 3)], labels={1: cl, 2: l1, 3: l2})
        m = match_pattern(e, pat, labels=labels, count_only=False)
        assert mni_support(m, pat) == sup, (cl, l1, l2, sup)


def test_mni_star2_supports_many_labels(spark):
    """>64 distinct labels exercises the CHUNKED mask path (two 64-bit
    mask columns per cnt-threshold) — compared against an independent
    brute-force Python computation of every labelled 2-star's MNI
    support."""
    from collections import defaultdict

    from peregrine_spark.operators.labels import mni_star2_supports

    n, n_lab = 150, 80
    pairs = set()
    for i in range(n):
        pairs.add(tuple(sorted((i, (i + 1) % n))))
        pairs.add(tuple(sorted((i, (i * 7 + 3) % n))))
    pairs = sorted(p for p in pairs if p[0] != p[1])
    lab = {v: v % n_lab for v in range(n)}
    assert len(set(lab.values())) > 64

    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    centers = defaultdict(set)
    dom1 = defaultdict(set)  # (cl,l1,l2) -> domain of the l1 position
    dom2 = defaultdict(set)
    for c in range(n):
        by_lab = defaultdict(list)
        for v in adj[c]:
            by_lab[lab[v]].append(v)
        labs = sorted(by_lab)
        for i, l1 in enumerate(labs):
            for l2 in labs[i:]:
                if l1 == l2 and len(by_lab[l1]) < 2:
                    continue
                key = (lab[c], l1, l2)
                centers[key].add(c)
                if l1 == l2:
                    dom1[key].update(by_lab[l1])  # merged leaf orbit
                else:
                    dom1[key].update(by_lab[l1])
                    dom2[key].update(by_lab[l2])
    want = {}
    for key in centers:
        doms = [len(centers[key]), len(dom1[key])]
        if key[1] != key[2]:
            doms.append(len(dom2[key]))
        want[key] = min(doms)

    e = spark.createDataFrame(pairs, "src long, dst long")
    labels = local_frame(spark, list(lab.items()), "id long, label int")
    got = {
        (r.center_label, r.l1, r.l2): r.support
        for r in mni_star2_supports(e, labels).collect()
    }
    assert got == want


def test_mni_level3_shape_tables_vs_match_based(spark):
    """The distributed level-3 MNI support tables (triangle / 3-star /
    4-path — one job per shape for all labellings) must equal the
    match-based mni_support on a labelled golden graph (sampled rows;
    the full sweep ran in development)."""
    import random

    from peregrine_spark.operators.labels import (
        mni_path4_supports,
        mni_star3_supports,
        mni_triangle_supports,
    )
    from peregrine_spark.operators.motifs import mni_support

    rng = random.Random(5)
    n = 14
    pairs = sorted(
        {tuple(sorted((rng.randrange(n), rng.randrange(n)))) for _ in range(34)}
    )
    pairs = [p for p in pairs if p[0] != p[1]]
    lab = {v: v % 4 for v in range(n)}
    e = spark.createDataFrame(pairs, "src long, dst long")
    labels = local_frame(spark, list(lab.items()), "id long, label int")

    checks = []
    for r in mni_triangle_supports(e, labels).collect():
        p = SmallGraph(
            edges=[(1, 2), (1, 3), (2, 3)], labels={1: r.l1, 2: r.l2, 3: r.l3}
        )
        checks.append((p, r.support))
    for r in mni_star3_supports(e, labels).collect():
        p = SmallGraph(
            edges=[(1, 2), (1, 3), (1, 4)],
            labels={1: r.center_label, 2: r.l1, 3: r.l2, 4: r.l3},
        )
        checks.append((p, r.support))
    for r in mni_path4_supports(e, labels).collect():
        p = SmallGraph(
            edges=[(1, 2), (2, 3), (3, 4)],
            labels={1: r.l1, 2: r.l2, 3: r.l3, 4: r.l4},
        )
        checks.append((p, r.support))
    assert len(checks) > 50
    for p, sup in checks[::7]:
        m = match_pattern(e, p, labels=labels, count_only=False)
        assert mni_support(m, p) == sup, (p.labels, p.edges, sup)


def test_k7_catalog_verified():
    """The generated data/graph7c.g6 catalog: 853 classes (OEIS A001349
    connected graphs on 7 nodes), each connected on exactly 7 vertices;
    K7 is a member; a sample is pairwise non-isomorphic (full pairwise
    distinctness is guaranteed by the generator's canonical-key dedup,
    tools/gen_motif_catalog.py). Parity with the reference's decoded
    core/graphs/graph7c.g6 catalog."""
    from peregrine_spark.plans.generators import _connected, all_connected
    from peregrine_spark.plans.patterns import SmallGraph

    cat = all_connected(7)
    assert len(cat) == 853
    for g in cat:
        assert len(g.vertices) == 7
        assert _connected(g)
        assert 6 <= len(g.edges) <= 21
    keys = {g.canonical_form() for g in cat[::40]}  # 22-class sample
    assert len(keys) == len(cat[::40])
    k7 = SmallGraph.clique(7).canonical_form()
    assert any(
        len(g.edges) == 21 and g.canonical_form() == k7 for g in cat
    )


def test_k8_catalog_verified():
    """The generated data/graph8c.g6 catalog: 11,117 classes (OEIS
    A001349 connected graphs on 8 nodes), each connected on exactly 8
    vertices; K8 is a member; a sample is pairwise non-isomorphic (full
    distinctness is the generator's canonical-key dedup). Parity with
    the reference's decoded core/graphs/graph8c.g6 catalog."""
    from peregrine_spark.plans.generators import _connected, all_connected
    from peregrine_spark.plans.patterns import SmallGraph

    cat = all_connected(8)
    assert len(cat) == 11117
    for g in cat:
        assert len(g.vertices) == 8
        assert _connected(g)
        assert 7 <= len(g.edges) <= 28
    keys = {g.canonical_form() for g in cat[::800]}  # 14-class sample
    assert len(keys) == len(cat[::800])
    k8 = SmallGraph.clique(8).canonical_form()
    assert any(
        len(g.edges) == 28 and g.canonical_form() == k8 for g in cat
    )


def test_k9_catalog_verified():
    """The generated data/graph9c.g6.gz catalog: 261,080 classes (OEIS
    A001349 connected graphs on 9 nodes; the WL-refined canonical key
    that generated it is validated partition-identical to the brute
    full-permutation key on every k=6/7 candidate), each sample member
    connected on exactly 9 vertices; K9 is the last class."""
    import random

    from peregrine_spark.plans.generators import _connected, all_connected

    cat = all_connected(9)
    assert len(cat) == 261080
    rnd = random.Random(31)
    for g in rnd.sample(cat, 400):
        assert len(g.vertices) == 9
        assert _connected(g)
        assert 8 <= len(g.edges) <= 36
    assert len(cat[-1].edges) == 36  # K9


def test_k7_vertex_induced_partition_identity():
    """On a connected 7-vertex graph, the vertex-induced counts over the
    full k=7 catalog sum to exactly 1 (the graph itself) — catalog +
    back-substitution consistency at k=7, pure-Python oracle."""
    from peregrine_spark import reference as ref
    from peregrine_spark.operators.motifs import (
        _as_complement_anti,
        all_motifs,
    )

    g_edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (1, 7),
               (2, 6), (3, 5)]
    total = 0
    hits = []
    for name, pat in all_motifs(7).items():
        c = ref.pattern_count(g_edges, _as_complement_anti(pat))
        if c:
            hits.append((name, c))
        total += c
    assert total == 1, hits


# ---- PatternGenerator::extend parity (core/unittests/PatternGenerator_test.hh)


def _star3():
    from peregrine_spark.plans.generators import SmallGraph

    return SmallGraph(edges=[(1, 2), (1, 3), (1, 4)])


def test_extend_vertex_based_star_unlabelled():
    from peregrine_spark.plans.generators import extend

    # VertexExtension.StarUnlabelled: (m1+1)(m2+1)-1 = 2*3-1 = 5
    # (reference star(3) is 3 vertices: hub + 2 leaves)
    s = SmallGraph(edges=[(1, 2), (1, 3)])
    assert len(extend([s], vertex_based=True)) == 5


def test_extend_vertex_based_star_same_labels():
    from peregrine_spark.plans.generators import extend

    # VertexExtension.StarSameLabels: (n+1)((m1+1)(m2+1)-1) = 2*5 = 10
    s = SmallGraph(edges=[(1, 2), (1, 3)], labels={1: 1, 2: 1, 3: 1})
    assert len(extend([s], vertex_based=True)) == 10


def test_extend_vertex_based_star_different_end_labels():
    from peregrine_spark.plans.generators import extend

    # VertexExtension.StarDifferentEndLabels: 3 orbits all singleton,
    # (n+1)(2*2*2-1) = 3*7 = 21
    s = SmallGraph(edges=[(1, 2), (1, 3)], labels={1: 1, 2: 2, 3: 1})
    assert len(extend([s], vertex_based=True)) == 21


def test_extend_edge_based_chain_unlabelled():
    from peregrine_spark.plans.generators import extend

    # ChainEdgeExtension.ChainUnlabelled: 4 classes
    assert len(extend([SmallGraph.path(4)])) == 4


def test_extend_edge_based_star_unlabelled():
    from peregrine_spark.plans.generators import extend

    # StarEdgeExtension.Unlabelled: triangle, 4-chain, 4-star
    s = SmallGraph(edges=[(1, 2), (1, 3)])
    assert len(extend([s])) == 3


@pytest.mark.parametrize(
    "labels,want",
    [
        ({1: 1, 2: 1, 3: 1}, 5),   # SameLabels
        ({1: 2, 2: 1, 3: 1}, 7),   # DifferentCentreLabel
        ({1: 1, 2: 1, 3: 2}, 10),  # DifferentEndLabels
        ({1: 1, 2: 2, 3: 3}, 13),  # AllDifferentLabels
    ],
)
def test_extend_edge_based_star_labelled(labels, want):
    from peregrine_spark.plans.generators import extend

    s = SmallGraph(edges=[(1, 2), (1, 3)], labels=labels)
    assert len(extend([s])) == want


def test_extend_labelled_multiple_patterns():
    from peregrine_spark.plans.generators import extend

    # LabelledMultiplePatternEdgeExtension.StarsIso: isomorphic inputs
    # collapse to one extension set
    s1 = SmallGraph(edges=[(1, 2), (1, 3)], labels={1: 1, 2: 2, 3: 1})
    s2 = SmallGraph(edges=[(1, 2), (1, 3)], labels={1: 1, 2: 1, 3: 2})
    assert len(extend([s1, s2])) == 10
    # StarsOverlap: non-isomorphic inputs sharing two extensions
    s3 = SmallGraph(edges=[(1, 2), (1, 3)], labels={1: 2, 2: 1, 3: 1})
    assert len(extend([s1, s3])) == 15


def test_extend_edge_based_anti_vertices():
    from peregrine_spark.plans.generators import extend

    # AntiVerticesEdgeBased: star + anti-vertex; maintain == overwrite
    # (anti-vertex edges are never overwritten), anti-vertex renumbered
    # past the new vertex, and its anti-edges preserved
    s = SmallGraph(edges=[(1, 2), (1, 3)])
    s.add_anti_edge(1, 4)
    r1 = extend([s], overwrite_anti_edges=False)
    r2 = extend([s], overwrite_anti_edges=True)
    assert {g.canonical_form() for g in r1} == {
        g.canonical_form() for g in r2
    }
    for g in r1:
        avs = g.anti_vertices()
        assert len(avs) == 1
        av = avs[0]
        assert g.anti_neighbours(av) == {1}
        assert not g.is_anti_vertex(max(g.regular_vertices()))


def test_extend_anti_edge_collision_maintain_vs_overwrite():
    from peregrine_spark.plans.generators import extend

    # a true anti-edge between regular vertices: maintaining drops the
    # extension that would close it; overwriting closes it into a triangle
    s = SmallGraph(edges=[(1, 2), (1, 3)])
    s.add_anti_edge(2, 3)
    maintain = extend([s], overwrite_anti_edges=False)
    overwrite = extend([s], overwrite_anti_edges=True)
    tri = SmallGraph(edges=[(1, 2), (1, 3), (2, 3)]).canonical_form()
    assert tri not in {g.canonical_form() for g in maintain}
    assert tri in {g.canonical_form() for g in overwrite}


def test_extend_vertex_based_overwrite_saturates_anti_edges():
    from peregrine_spark.plans.generators import extend

    import itertools

    s = SmallGraph(edges=[(1, 2), (1, 3)])
    for g in extend([s], vertex_based=True, overwrite_anti_edges=True):
        vs = g.regular_vertices()
        for a, b in itertools.combinations(vs, 2):
            assert g.has_edge(a, b) or g.has_anti_edge(a, b)


def test_extend_vertex_based_subsumes_edge_based_new_vertex():
    from peregrine_spark.plans.generators import extend

    # every single-edge new-vertex extension appears among vertex-based
    # extensions (subset size 1)
    p = SmallGraph.path(4)
    vb = {g.canonical_form() for g in extend([p], vertex_based=True)}
    for g, nv in __import__(
        "peregrine_spark.plans.generators", fromlist=["_edge_extensions"]
    )._edge_extensions(p, overwrite_anti=False):
        if nv is not None:
            assert g.canonical_form() in vb


def test_fsm_vertex_strategy(spark, labelled_graph):
    e, labels = labelled_graph
    # levels 1-3 are strategy-independent (shared MNI shape tables);
    # level 4+ differs: vertex strategy may add multi-edge candidates
    out_e = fsm(spark, e, labels, min_support=2, max_edges=2)
    out_v = fsm(spark, e, labels, min_support=2, max_edges=2,
                strategy="vertex")
    key = lambda ps: {  # noqa: E731
        (p.canonical_form(), s) for p, s in ps if len(p.edges) <= 2
    }
    assert key(out_e) == key(out_v)
    with pytest.raises(ValueError):
        fsm(spark, e, labels, min_support=2, strategy="bogus")


def test_fsm_vertex_strategy_level4(spark):
    from peregrine_spark.operators.motifs import mni_support
    from peregrine_spark.operators.patterns import match_pattern

    # two disjoint tailed triangles, all label 0 — the tailed triangle
    # (4 edges) has MNI support 2, so the vertex strategy must surface
    # level-4 candidates and report their true supports
    pairs = [(1, 2), (1, 3), (2, 3), (1, 4),
             (5, 6), (5, 7), (6, 7), (5, 8)]
    e = golden.to_spark_edges(spark, pairs)
    labels = local_frame(spark, [(v, 0) for v in range(1, 9)], "id long, label int")
    out_v = fsm(spark, e, labels, min_support=2, max_edges=4,
                strategy="vertex")
    deep = [(p, s) for p, s in out_v if len(p.edges) >= 4]
    assert deep, "vertex strategy found no level-4 candidates"
    tailed = SmallGraph(
        edges=[(1, 2), (1, 3), (2, 3), (1, 4)],
        labels={1: 0, 2: 0, 3: 0, 4: 0},
    )
    assert tailed.canonical_form() in {
        p.canonical_form() for p, _ in deep
    }
    # every reported support must be the true MNI support of its pattern
    for p, s in deep[:4]:
        m = match_pattern(e, p, labels=labels, count_only=False)
        assert mni_support(m, p) == s


# ---- the label joins' two plans: broadcast (the label table fits the
# session's autoBroadcastJoinThreshold) and unhinted shuffle joins


@contextlib.contextmanager
def _no_broadcast(spark):
    """Run the body with size-based broadcasting off: the label joins
    take their unhinted route."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _hub_graph(spark):
    """Hub 0 with 50 leaves, every third leaf pair chorded (triangles
    through the hub); labels alternate 0/1."""
    pairs = [(0, i) for i in range(1, 51)] + [(i, i + 1) for i in range(1, 50, 3)]
    lab = {v: v % 2 for v in range(51)}
    e = golden.to_spark_edges(spark, pairs)
    return pairs, lab, e, _sized_labels(spark, lab)


def _sized_labels(spark, lab: dict):
    """A label table Catalyst can size (a local relation), so the
    default route broadcasts it; a createDataFrame over a list has no
    size estimate and would take the unhinted route already."""
    return local_frame(spark, list(lab.items()), "id long, label int")


def _star_label_tables(e, labels) -> dict:
    from peregrine_spark.operators.labels import (
        discover_star_labels_3,
        mni_star2_supports,
        mni_star3_supports,
    )

    return {
        "star2": sorted(discover_star_labels(e, labels).collect()),
        "star3": sorted(discover_star_labels_3(e, labels).collect()),
        "mni_star2": sorted(mni_star2_supports(e, labels).collect()),
        "mni_star3": sorted(mni_star3_supports(e, labels).collect()),
    }


def _fsm3(spark, e, labels) -> list:
    return sorted(
        (p.canonical_form(), s)
        for p, s in fsm(spark, e, labels, min_support=2, max_edges=3)
    )


@pytest.mark.parametrize("graph", ["two_tri_bridge", "hub"])
def test_star_label_ops_unhinted_route_matches_default(spark, graph):
    from tests.test_plan_shape import plan_shape

    if graph == "hub":
        _, _, e, labels = _hub_graph(spark)
    else:
        glab = {1: 7, 2: 7, 3: 5, 4: 5, 5: 9, 6: 3}
        e = golden.to_spark_edges(spark, golden.TWO_TRI_BRIDGE)
        labels = _sized_labels(spark, glab)
    default, forced = {}, {}
    shape = plan_shape(spark, lambda: default.update(_star_label_tables(e, labels)))
    assert "BroadcastHashJoin" in shape
    default_fsm = _fsm3(spark, e, labels)
    assert all(default.values()) and default_fsm
    with _no_broadcast(spark):
        shape = plan_shape(spark, lambda: forced.update(_star_label_tables(e, labels)))
        forced_fsm = _fsm3(spark, e, labels)
    # the route really is forced: no label join is broadcast
    assert "BroadcastHashJoin" not in shape and "SortMergeJoin" in shape
    assert forced == default
    assert forced_fsm == default_fsm


def test_star_label_ops_unhinted_route_vs_match_based(spark):
    """On the hub graph with broadcasting off: star discovery counts equal
    a brute-force enumeration of every 2- and 3-star, the MNI star
    supports equal the match-based mni_support, and fsm reports those
    supports for its frequent stars."""
    import itertools
    from collections import Counter, defaultdict

    from peregrine_spark.operators.motifs import mni_support

    pairs, lab, e, labels = _hub_graph(spark)
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    want2, want3 = Counter(), Counter()
    for c, nb in adj.items():
        for k, want in ((2, want2), (3, want3)):
            for leaves in itertools.combinations(nb, k):
                want[(lab[c], *sorted(lab[v] for v in leaves))] += 1

    with _no_broadcast(spark):
        got = _star_label_tables(e, labels)
        fsm_rows = _fsm3(spark, e, labels)
        assert {tuple(r[:-1]): r.n for r in got["star2"]} == want2
        assert {tuple(r[:-1]): r.n for r in got["star3"]} == want3
        supports = {}
        for table in ("mni_star2", "mni_star3"):
            for r in got[table]:
                leaves = r[1:-1]
                p = SmallGraph(
                    edges=[(1, i) for i in range(2, len(leaves) + 2)],
                    labels={1: r.center_label, **dict(zip(range(2, 5), leaves))},
                )
                m = match_pattern(e, p, labels=labels, count_only=False)
                assert mni_support(m, p) == r.support, (p.labels, r.support)
                supports[p.canonical_form()] = r.support
    frequent_stars = [(k, s) for k, s in fsm_rows if k in supports]
    assert frequent_stars
    assert all(supports[k] == s for k, s in frequent_stars)
    assert {k for k, s in supports.items() if s >= 2} == {k for k, _ in frequent_stars}
