"""Cache hygiene: no counting operator may leave a cached DataFrame
persisted after its action completes (round-4 verdict item 6). A leaked
cache is invisible in a short test run but accumulates executor storage
for the lifetime of a long analysis driver session.

GraphContext owns the per-graph caches. A context opened inside another
one's lifetime on the same edges reads the outer caches through Spark's
cache manager (plans match, not objects) and releases only its own."""

import pytest

from tests import golden
from tests.test_plan_shape import started


def _persistent_ids(spark) -> set:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


@pytest.fixture()
def dense_edges(spark):
    return golden.to_spark_edges(spark, golden.random_graph(12, 50, seed=3))


def test_counting_ops_release_caches(spark, dense_edges):
    from peregrine_spark.operators.graph import orient
    from peregrine_spark.operators.groups import group_count
    from peregrine_spark.operators.labels import (
        discover_star_labels,
        discover_star_labels_3,
        fsm,
        mni_star2_supports,
        mni_star3_supports,
    )
    from peregrine_spark.operators.motifs import (
        all_motifs,
        cycle4_count,
        motif_counts,
        star_count,
    )
    from peregrine_spark.operators.patterns import clique_count, match_pattern
    from peregrine_spark.operators.triangles import triangles, triangles_per_vertex
    from peregrine_spark.plans.patterns import SmallGraph

    e = dense_edges
    labels = spark.createDataFrame(
        [(v, v % 3) for v in range(12)], "id long, label int"
    )
    chair = all_motifs(5)["m5_004"]
    assert chair.group_count_plan() is not None
    cases = {
        # closed-form k=4 family (caches the canonical set, the DAG and
        # the triangle list, and runs six terms from a thread pool)
        "motif_counts_k4": lambda: motif_counts(spark, e, 4, vertex_induced=True),
        # oriented-DAG 4-cycle plan
        "cycle4_count": lambda: cycle4_count(e),
        # frontier clique path
        "clique_count": lambda: clique_count(e, 4),
        # star shortcut
        "star_count": lambda: star_count(e, 3),
        # group counter with an internally-created context
        "group_count": lambda: group_count(e, chair),
        # generic matcher route through match_pattern's auto policy
        "match_pattern_tailed": lambda: match_pattern(
            e, all_motifs(4)["tailed_triangle"]
        ),
        # lazy results: nothing may stay cached for as long as the
        # caller holds them
        "triangles": lambda: triangles(e),
        "triangles_per_vertex": lambda: triangles_per_vertex(e),
        "orient": lambda: orient(e),
        # degree-ordered join chain
        "match_pattern_clique4": lambda: match_pattern(e, SmallGraph.clique(4)),
        # labelled stars: the histogram caches live in the operator's
        # context; fsm fills the shared ones in its own context
        "star2_labels": lambda: discover_star_labels(e, labels),
        "star3_labels": lambda: discover_star_labels_3(e, labels),
        "mni_star2_supports": lambda: mni_star2_supports(e, labels),
        "mni_star3_supports": lambda: mni_star3_supports(e, labels),
        "fsm": lambda: fsm(spark, e, labels, min_support=2, max_edges=3),
    }
    leaks = {}
    for name, op in cases.items():
        before = _persistent_ids(spark)
        result = op()
        if not isinstance(result, list):  # fsm returns its patterns
            result.collect()
        leaked = _persistent_ids(spark) - before
        if leaked:
            leaks[name] = leaked
        # with a shared plan, one case's leak would hide the next one's
        spark.catalog.clearCache()
    assert not leaks, f"persistent RDDs leaked by counting ops: {leaks}"


def test_motif_catalog_k5_releases_caches(spark, dense_edges):
    from peregrine_spark.operators.motifs import motif_counts

    before = _persistent_ids(spark)
    motif_counts(spark, dense_edges, 5, vertex_induced=True).collect()
    leaked = _persistent_ids(spark) - before
    assert not leaked, f"persistent RDDs leaked by k=5 catalog: {leaked}"


def test_clique_count_reads_live_context(spark, dense_edges):
    """Inside a live context on the same edges, clique_count gives the
    same count with fewer jobs, and runs neither the canonical distinct
    nor the degree groupBy: its own context finds the canonical set and
    the degree table cached, so only its stats aggregation, the DAG runs
    and the count shuffle (at least two fewer shuffle-writing stages than
    outside a context)."""
    from peregrine_spark.operators.graph import GraphContext
    from peregrine_spark.operators.patterns import clique_count

    e = dense_edges
    before = _persistent_ids(spark)
    result = {}
    outside = started(
        spark, lambda: result.update(out=clique_count(e, 4).first()[0])
    )
    with GraphContext(e) as ctx:
        ctx.n_vertices  # fills the canonical-set and degree caches
        inside = started(
            spark, lambda: result.update(ins=clique_count(e, 4).first()[0])
        )
        assert _cached(ctx.can) and _cached(ctx.deg)
    assert result["ins"] == result["out"]
    assert inside["jobs"] < outside["jobs"]
    assert inside["shuffle_stages"] <= outside["shuffle_stages"] - 2
    assert _persistent_ids(spark) == before


def test_nested_contexts_release_only_their_own(spark, dense_edges):
    """Exiting an inner context on the same edges leaves the outer one's
    caches persisted; after both exit, nothing persists."""
    from peregrine_spark.operators.graph import GraphContext

    e = dense_edges
    before = _persistent_ids(spark)
    with GraphContext(e) as outer:
        outer.n_vertices
        base = _persistent_ids(spark) - before
        assert base  # the canonical set and the degree table
        with GraphContext(e) as inner:
            # the canonical set and degree plans are the outer context's
            assert inner._caches == []
            inner.adj.count()  # the DAG and its runs are the inner's own
            assert len(inner._caches) == 2
        assert _cached(outer.can) and _cached(outer.deg)
        assert _persistent_ids(spark) - before == base
    assert _persistent_ids(spark) == before


def test_context_released_when_body_raises(spark, dense_edges):
    from peregrine_spark.operators.graph import GraphContext

    before = _persistent_ids(spark)
    with pytest.raises(RuntimeError):
        with GraphContext(dense_edges) as ctx:
            ctx.adj.count()
            assert _persistent_ids(spark) - before
            raise RuntimeError("body failed")
    assert not _cached(ctx.can) and not _cached(ctx.deg)
    assert _persistent_ids(spark) == before
