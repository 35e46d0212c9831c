"""Motif counting (edge- and vertex-induced) and MNI support."""

import pytest

from peregrine_spark import reference as ref
from peregrine_spark.operators.motifs import (
    _as_complement_anti,
    all_motifs,
    mni_support,
    motif_counts,
    num_mappings,
)
from peregrine_spark.operators.patterns import match_pattern
from peregrine_spark.plans.patterns import SmallGraph
from tests import golden


def test_num_mappings_known_values():
    # a triangle contains 3 edge-induced path3s; a 4-clique contains 12
    assert num_mappings(SmallGraph.clique(3), SmallGraph.path(3)) == 3
    assert num_mappings(SmallGraph.clique(4), SmallGraph.path(3)) == 12
    assert num_mappings(SmallGraph.cycle(4), SmallGraph.path(3)) == 4


@pytest.mark.parametrize("gname", ["k6", "two_tri_bridge", "disconnected"])
@pytest.mark.parametrize("k", [3, 4])
def test_vertex_induced_motifs_vs_anti_edge_oracle(spark, gname, k):
    """Back-substitution conversion == direct anti-edge (vertex-induced)
    counting by the brute-force oracle."""
    pairs = golden.ALL[gname]
    e = golden.to_spark_edges(spark, pairs)
    got = {r.motif: r["count"] for r in motif_counts(spark, e, k, vertex_induced=True).collect()}
    for name, pat in all_motifs(k).items():
        want = ref.pattern_count(pairs, _as_complement_anti(pat))
        assert got[name] == want, (gname, name, got[name], want)


def test_edge_induced_motifs_k6(spark):
    e = golden.to_spark_edges(spark, golden.K6)
    got = {r.motif: r["count"] for r in motif_counts(spark, e, 3).collect()}
    assert got == {"path3": 60, "triangle": 20}
    vi = {r.motif: r["count"] for r in motif_counts(spark, e, 3, vertex_induced=True).collect()}
    assert vi == {"path3": 0, "triangle": 20}  # K6 has no induced path3


def test_mni_support(spark):
    e = golden.to_spark_edges(spark, golden.STAR_HUB)
    m = match_pattern(e, SmallGraph.star(2), count_only=False)  # 2-star
    # hub position domain = {0}; leaf-pair orbit domain = all 50 leaves
    assert mni_support(m, SmallGraph.star(2)) == 1


@pytest.mark.parametrize("gname", ["k6", "two_tri_bridge", "disconnected", "star_hub"])
def test_motif_counts_k4_closed_form_vs_oracle(spark, gname):
    """motif_counts at k = 4 runs the closed-form D2-D4 counter; its edge-
    and vertex-induced counts must equal the brute-force oracle on every
    golden graph (star_hub: a 50-leaf hub, every term but star4 zero)."""
    pairs = golden.ALL[gname]
    e = golden.to_spark_edges(spark, pairs)
    for vi in (False, True):
        got = {
            r.motif: r["count"]
            for r in motif_counts(spark, e, 4, vertex_induced=vi).collect()
        }
        want = {
            name: ref.pattern_count(pairs, _as_complement_anti(pat) if vi else pat)
            for name, pat in all_motifs(4).items()
        }
        assert got == want, (gname, vi, got, want)


def test_cycle4_count_oriented_vs_oracle(spark):
    """The oriented-DAG wedge-class decomposition (A/B enumerated, C via
    out-adjacency intersection) must equal the brute-force oracle on the
    golden graphs AND a seeded random graph with uneven degrees."""
    import random

    import numpy as np

    from peregrine_spark.operators.motifs import cycle4_count

    cases = [golden.ALL[g] for g in ("k6", "two_tri_bridge", "star_hub")]
    rnd = random.Random(7)
    n = 40
    rand_pairs = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rnd.randrange(n), rnd.randrange(n)) for _ in range(260)
            )
            if a != b
        }
    )
    cases.append(np.array(rand_pairs, dtype=np.int64))
    from peregrine_spark.operators import graph as graph_mod

    # Both physical routes: full wedge enumeration (the small-graph
    # default), and the intersect route with broadcast adjacency
    # attaches (forced by failing the pair-packing id bound) or
    # hub-split shuffle ones (forced via a 0 broadcast bound)
    for bound, pack in (
        (graph_mod.BROADCAST_MAX_EDGES, graph_mod.PACK_MAX_ID),
        (graph_mod.BROADCAST_MAX_EDGES, 0),
        (0, graph_mod.PACK_MAX_ID),
    ):
        old, oldp = graph_mod.BROADCAST_MAX_EDGES, graph_mod.PACK_MAX_ID
        graph_mod.BROADCAST_MAX_EDGES = bound
        graph_mod.PACK_MAX_ID = pack
        try:
            for pairs in cases:
                e = golden.to_spark_edges(spark, pairs)
                got = cycle4_count(e).collect()[0]["n_cycles"]
                want = ref.pattern_count(pairs, SmallGraph.cycle(4))
                assert got == want, (bound, pack, len(pairs), got, want)
        finally:
            graph_mod.BROADCAST_MAX_EDGES = old
            graph_mod.PACK_MAX_ID = oldp


def test_cycle4_count_ids_below_int32(spark):
    """Ids below −2³¹ with the max id below 2³¹: route 1's packed key
    x·2³² + y would overflow (ANSI error, or colliding keys with ANSI
    off), so the id-bound check must send the count elsewhere and it
    must still match the oracle."""
    import numpy as np

    from peregrine_spark.operators.motifs import cycle4_count

    base = golden.random_graph(12, 50, seed=3)
    shift = {v: v - (1 << 40) if v % 2 else v for p in base for v in p}
    pairs = np.array([(shift[a], shift[b]) for a, b in base], dtype=np.int64)
    assert pairs.min() < -(1 << 31) and pairs.max() < (1 << 31)
    got = cycle4_count(golden.to_spark_edges(spark, pairs)).collect()[0]["n_cycles"]
    assert got == ref.pattern_count(pairs, SmallGraph.cycle(4))


def test_motifs5_catalog_vs_oracle(spark):
    """k=5 catalog (21 isomorphism classes) — golden parity with the
    brute-force oracle, mirroring the reference's 5-motif truth files
    (core/integrationtests/Counting_test.hh:30-50, truth/5m.txt). The
    two-triangle bridge has one nonzero vertex-induced class; the seeded
    random graph has 15 of 21, so the back-substitution's dense terms
    are exercised too."""
    cat = all_motifs(5)
    assert len(cat) == 21
    for gname, pairs in (
        ("two_tri_bridge", golden.TWO_TRI_BRIDGE),
        ("random_12_40_7", golden.random_graph(12, 40, seed=7)),
    ):
        e = golden.to_spark_edges(spark, pairs)
        got_e = {
            r.motif: r["count"]
            for r in motif_counts(spark, e, 5, vertex_induced=False).collect()
        }
        got_v = {
            r.motif: r["count"]
            for r in motif_counts(spark, e, 5, vertex_induced=True).collect()
        }
        for name, pat in cat.items():
            assert got_e[name] == ref.pattern_count(pairs, pat), (gname, name)
            want_v = ref.pattern_count(pairs, _as_complement_anti(pat))
            assert got_v[name] == want_v, (gname, name, got_v[name], want_v)
