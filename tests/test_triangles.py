"""Spark triangle counting vs closed-form truths and the NumPy oracle
(shape-parity with /root/reference/core/unittests/PatternMatching_test.hh)."""

import pytest
from pyspark.sql import functions as F

from peregrine_spark import reference as ref
from peregrine_spark.operators import graph as G
from peregrine_spark.operators.triangles import (
    triangle_count,
    triangles,
    triangles_per_vertex,
)
from peregrine_spark.sources import ingest as ing
from tests import golden


@pytest.mark.parametrize("name", ["k6", "two_tri_bridge", "star_hub", "disconnected"])
def test_golden_counts(spark, name):
    pairs = golden.ALL[name]
    e = golden.to_spark_edges(spark, pairs)
    got = triangle_count(e).collect()[0].n_triangles
    assert got == ref.triangle_count(pairs)


@pytest.mark.parametrize("name", ["k6", "two_tri_bridge", "disconnected"])
def test_triangle_set_matches_brute_force(spark, name):
    pairs = golden.ALL[name]
    e = golden.to_spark_edges(spark, pairs)
    got = {tuple(sorted(r)) for r in triangles(e).collect()}
    assert got == golden.triangle_set(pairs)


def test_each_triangle_once_k6(spark):
    e = golden.to_spark_edges(spark, golden.K6)
    rows = triangles(e).collect()
    assert len(rows) == 20
    assert len({tuple(sorted((r.u, r.v, r.w))) for r in rows}) == 20


def test_per_vertex_k6(spark):
    e = golden.to_spark_edges(spark, golden.K6)
    rows = triangles_per_vertex(e).collect()
    # every K6 vertex is in C(5,2)=10 triangles
    assert {r.id: r.n_tri for r in rows} == {i: 10 for i in range(1, 7)}


def test_orientation_is_dag_partition(spark):
    e = golden.to_spark_edges(spark, golden.TWO_TRI_BRIDGE)
    fwd = G.orient(e)
    assert fwd.count() == 7  # one row per undirected edge
    # orientation respects (deg, id) order
    bad = fwd.filter(
        ~(
            (F.col("sdeg") < F.col("ddeg"))
            | ((F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst")))
        )
    ).count()
    assert bad == 0


def test_ingested_graph_matches_numpy_oracle(spark, tiny_repo_files):
    """End-to-end M0 slice: repo_files → edges → triangle count, vs the
    NumPy reference on the same extracted edges."""
    e = ing.extract_edges(tiny_repo_files)
    pairs = [(r.src, r.dst) for r in e.collect()]
    got = triangle_count(e).collect()[0].n_triangles
    assert got == ref.triangle_count(pairs)
    deg_spark = {r.id: r.deg for r in G.degrees(e).collect()}
    assert deg_spark == ref.degrees(pairs)
