"""Frontier-intersection set-up and skew helpers: sorted adjacency runs,
the hub-split join, the forced hub-split shuffle route of triangles,
cliques and cycle4, and CC over a mega-hub — each against the plain join
or the NumPy oracle."""

import pytest
from pyspark.sql import functions as F

from peregrine_spark import reference as ref
from peregrine_spark.operators import graph, skew
from peregrine_spark.operators.graph import adjacency, orient, undirected
from peregrine_spark.operators.iterative import connected_components
from peregrine_spark.operators.motifs import cycle4_count
from peregrine_spark.operators.patterns import clique_count
from peregrine_spark.operators.triangles import triangle_count, triangles
from peregrine_spark.plans.patterns import SmallGraph
from tests import golden


def test_adjacency_runs_sorted(spark):
    e = golden.to_spark_edges(spark, golden.K6)
    rows = adjacency(orient(e)).collect()
    for r in rows:
        assert list(r.adj) == sorted(r.adj)


def test_hub_split_join_matches_plain(spark):
    e = undirected(golden.to_spark_edges(spark, golden.STAR_HUB))
    state = e.select(F.col("src")).distinct().select(
        "src", (F.col("src") * 7).alias("val")
    )
    counts = e.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    hubs = skew.hub_keys(counts, "src", "n", threshold=10)
    assert hubs == [0]  # the star hub
    plain = e.join(state, "src").select("src", "dst", "val")
    split = skew.hub_split_join(e, state, "src", hubs).select("src", "dst", "val")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, split.collect()))
    # left join: the odd leaves and a null key have no row on the small
    # side and keep theirs with a null val; the hub is on both sides
    big = e.unionByName(spark.createDataFrame([(None, 0)], "src long, dst long"))
    part = state.filter(F.col("src") % 2 == 0)
    plain = big.join(part, "src", "left").select("src", "dst", "val")
    split = skew.hub_split_join(big, part, "src", hubs, "left").select(
        "src", "dst", "val"
    )
    want = sorted(map(tuple, plain.collect()), key=repr)
    assert (None, 0, None) in want and (1, 0, None) in want and (0, 1, 0) in want
    assert sorted(map(tuple, split.collect()), key=repr) == want


@pytest.mark.parametrize("name", ["k6", "two_tri_bridge", "star_hub", "disconnected"])
def test_hub_split_shuffle_route_golden(spark, monkeypatch, name):
    """Above graph.BROADCAST_MAX_EDGES, triangles, cliques and cycle4
    attach adjacency runs through hub-split shuffle joins. Force that
    route with a 0 bound, and a hub threshold of 1 so hub_keys finds real
    hubs (star_hub's centre, K6's later vertices) and the isin() hub
    branch runs too. cycle4's intersect route also runs with broadcast
    attaches, forced by failing its pair-packing id bound."""
    monkeypatch.setattr(skew, "auto_hub_threshold", lambda n_rows: 1)
    pairs = golden.ALL[name]
    e = golden.to_spark_edges(spark, pairs)
    want4 = ref.pattern_count(pairs, SmallGraph.cycle(4))
    with monkeypatch.context() as m:
        m.setattr(graph, "PACK_MAX_ID", 0)
        assert cycle4_count(e).first()["n_cycles"] == want4
    monkeypatch.setattr(graph, "BROADCAST_MAX_EDGES", 0)
    assert cycle4_count(e).first()["n_cycles"] == want4
    assert triangle_count(e).first()["n_triangles"] == ref.triangle_count(pairs)
    rows = triangles(e).collect()
    assert len(rows) == ref.triangle_count(pairs)
    assert {tuple(sorted(r)) for r in rows} == golden.triangle_set(pairs)
    for k in (4, 5):
        want = ref.pattern_count(pairs, SmallGraph.clique(k))
        assert clique_count(e, k).first()["n_cliques"] == want


def test_cc_on_hub_graph(spark):
    """CC over the star graph (worst-case hub) still exact."""
    pairs = golden.STAR_HUB
    res = connected_components(spark, golden.to_spark_edges(spark, pairs))
    got = {r.id: r.comp for r in res.state.collect()}
    assert got == ref.connected_components(pairs)
