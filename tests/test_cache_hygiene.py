"""Cache hygiene: no counting operator may leave a cached DataFrame
persisted after its action completes (round-4 verdict item 6). A leaked
cache is invisible in a short test run but accumulates executor storage
for the lifetime of a long analysis driver session."""

import pytest

from tests import golden


def _persistent_ids(spark) -> set:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.fixture()
def dense_edges(spark):
    return golden.to_spark_edges(spark, golden.random_graph(12, 50, seed=3))


def test_counting_ops_release_caches(spark, dense_edges):
    from peregrine_spark.operators.groups import GroupCountContext, group_count
    from peregrine_spark.operators.motifs import (
        all_motifs,
        cycle4_count,
        motif_counts,
        star_count,
    )
    from peregrine_spark.operators.patterns import clique_count, match_pattern

    before = _persistent_ids(spark)

    # closed-form k=4 family (caches canonical/deg/tri internally)
    motif_counts(spark, dense_edges, 4, vertex_induced=True).collect()
    # oriented-DAG 4-cycle plan (caches adj + wedge-class pairs)
    cycle4_count(dense_edges).collect()
    # frontier clique path
    clique_count(dense_edges, 4).collect()
    # star shortcut
    star_count(dense_edges, 3).collect()
    # group counter with an INTERNALLY-created context (the leaky path
    # flagged in round-4 advice: ctx + _ShapeFlow.core_cached)
    chair = all_motifs(5)["m5_004"]
    if chair.group_count_plan() is not None:
        group_count(dense_edges, chair).collect()
    # generic matcher route through match_pattern's auto policy
    match_pattern(dense_edges, all_motifs(4)["tailed_triangle"]).collect()

    leaked = _persistent_ids(spark) - before
    assert not leaked, f"persistent RDDs leaked by counting ops: {leaked}"


def test_motif_catalog_k5_releases_caches(spark, dense_edges):
    from peregrine_spark.operators.motifs import motif_counts

    before = _persistent_ids(spark)
    motif_counts(spark, dense_edges, 5, vertex_induced=True).collect()
    leaked = _persistent_ids(spark) - before
    assert not leaked, f"persistent RDDs leaked by k=5 catalog: {leaked}"


def test_live_context_registry_reuse_and_cleanup(spark, dense_edges):
    """The live-context registry (round-6 continuation): a clique count
    on the SAME DataFrame object as a live GroupCountContext reuses its
    closure/degree tables (identical result), the registry entry dies
    with unpersist(), and nothing stays cached afterwards."""
    from peregrine_spark.operators.groups import (
        GroupCountContext,
        live_context_for,
    )
    from peregrine_spark.operators.patterns import clique_count

    before = _persistent_ids(spark)
    baseline = clique_count(dense_edges, 4).first()["n_cliques"]

    ctx = GroupCountContext(dense_edges)
    assert live_context_for(dense_edges) is ctx
    # a DIFFERENT DataFrame with the same data must NOT hit the entry
    other = dense_edges.select("src", "dst")
    assert live_context_for(other) is None

    with_ctx = clique_count(dense_edges, 4).first()["n_cliques"]
    assert with_ctx == baseline

    ctx.unpersist()
    assert live_context_for(dense_edges) is None
    after_ctx = clique_count(dense_edges, 4).first()["n_cliques"]
    assert after_ctx == baseline

    leaked = _persistent_ids(spark) - before
    assert not leaked, f"persistent RDDs leaked by registry reuse: {leaked}"


def test_live_context_registry_two_contexts_same_edges(spark, dense_edges):
    """Two contexts over the SAME edges DataFrame: the later registration
    owns the entry, and unpersisting the earlier context leaves it in
    place. An entry whose context was collected without unpersist() is
    pruned on the next lookup."""
    import gc

    from peregrine_spark.operators import groups
    from peregrine_spark.operators.groups import (
        GroupCountContext,
        live_context_for,
    )

    before = _persistent_ids(spark)
    first = GroupCountContext(dense_edges)
    second = GroupCountContext(dense_edges)
    assert live_context_for(dense_edges) is second
    first.unpersist()
    assert live_context_for(dense_edges) is second
    second.unpersist()
    assert live_context_for(dense_edges) is None

    dropped = GroupCountContext(dense_edges)
    caches = list(dropped._caches)
    del dropped
    gc.collect()
    assert live_context_for(dense_edges) is None
    assert id(dense_edges) not in groups._LIVE_CONTEXTS
    for df in caches:
        df.unpersist()

    leaked = _persistent_ids(spark) - before
    assert not leaked, f"persistent RDDs leaked: {leaked}"
