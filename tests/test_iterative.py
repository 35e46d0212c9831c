"""PageRank / CC / LP vs the NumPy oracle, plus checkpoint/resume
equivalence (FIXTURES.md §3, SURVEY.md §5 implications a/d)."""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from peregrine_spark import reference as ref
from peregrine_spark.operators import iterative
from peregrine_spark.operators.iterative import (
    connected_components,
    label_propagation,
    pagerank,
)
from peregrine_spark.sources import ingest as ing
from tests import golden


def both_dirs(pairs):
    return np.concatenate([pairs, pairs[:, ::-1]])


def pr_dict(res):
    return {r.id: r.rank for r in res.state.select("id", "rank").collect()}


def comp_dict(res, col="comp"):
    return {r.id: r[col] for r in res.state.collect()}


def test_pagerank_k6_uniform(spark):
    e = golden.to_spark_edges(spark, both_dirs(golden.K6))
    res = pagerank(spark, e, tol=1e-9)
    got = pr_dict(res)
    assert res.converged
    assert np.allclose(list(got.values()), 1.0 / 6, atol=1e-8)


def test_pagerank_directed_star_vs_oracle(spark):
    pairs = np.array([(i, 0) for i in range(1, 21)], dtype=np.int64)
    e = golden.to_spark_edges(spark, pairs)
    res = pagerank(spark, e, tol=1e-8)
    want = ref.pagerank(pairs, tol=1e-8)
    got = pr_dict(res)
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved w/ dangling hub


# in-only (dangling) vertices 4 and 6, out-only vertex 7
DIRECTED_DANGLING = np.array(
    [(1, 2), (2, 3), (3, 1), (1, 4), (2, 5), (5, 6), (7, 1), (3, 5)],
    dtype=np.int64,
)


def test_pagerank_implicit_vertices_match_explicit(spark):
    """vertices=None derives (id, out_deg) from the edge ends in one
    pass; it must equal an explicit vertex set, dangling vertices
    included."""
    pairs = DIRECTED_DANGLING
    e = golden.to_spark_edges(spark, pairs)
    ids = sorted({int(v) for v in pairs.ravel()})
    verts = spark.createDataFrame([(i,) for i in ids], "id long")
    implicit = pr_dict(pagerank(spark, e, tol=1e-9))
    explicit = pr_dict(pagerank(spark, e, vertices=verts, tol=1e-9))
    want = ref.pagerank(pairs, tol=1e-9)
    assert set(implicit) == set(explicit) == set(want) == set(ids)
    assert max(abs(implicit[k] - explicit[k]) for k in ids) < 1e-12
    assert max(abs(implicit[k] - want[k]) for k in ids) < 1e-6


def test_pagerank_tiny_ingested_vs_oracle(spark, tiny_repo_files):
    e = ing.extract_edges(tiny_repo_files)
    pairs = np.array([(r.src, r.dst) for r in e.collect()], dtype=np.int64)
    res = pagerank(spark, e, tol=1e-6)
    want = ref.pagerank(pairs, tol=1e-6)
    got = pr_dict(res)
    assert res.converged
    assert set(got) == set(want)
    diffs = [abs(got[k] - want[k]) for k in got]
    assert max(diffs) < 1e-6


@pytest.mark.parametrize("name", ["disconnected", "two_tri_bridge", "star_hub"])
def test_cc_golden(spark, name):
    pairs = golden.ALL[name]
    e = golden.to_spark_edges(spark, pairs)
    res = connected_components(spark, e)
    assert res.converged
    assert comp_dict(res) == ref.connected_components(pairs)


def test_cc_tiny_ingested(spark, tiny_repo_files):
    e = ing.extract_edges(tiny_repo_files)
    pairs = [(r.src, r.dst) for r in e.collect()]
    res = connected_components(spark, e)
    assert comp_dict(res) == ref.connected_components(pairs)


@pytest.mark.parametrize("n_iter", [1, 5])
def test_lp_golden_vs_oracle(spark, n_iter):
    pairs = golden.TWO_TRI_BRIDGE
    e = golden.to_spark_edges(spark, pairs)
    res = label_propagation(spark, e, n_iter=n_iter)
    assert comp_dict(res, "label") == ref.label_propagation(pairs, n_iter=n_iter)


def test_lp_tiny_ingested(spark, tiny_repo_files):
    e = ing.extract_edges(tiny_repo_files)
    pairs = [(r.src, r.dst) for r in e.collect()]
    res = label_propagation(spark, e, n_iter=4)
    assert comp_dict(res, "label") == ref.label_propagation(pairs, n_iter=4)


# ---------------------------------------------------------------- resume --
def test_cc_resume_bit_identical(spark, tmp_path):
    e = golden.to_spark_edges(spark, golden.DISCONNECTED)
    straight = connected_components(spark, e)
    d = str(tmp_path / "cc")
    part = connected_components(spark, e, max_iter=1, checkpoint_dir=d)
    assert not part.converged
    resumed = connected_components(spark, e, checkpoint_dir=d, resume=True)
    assert resumed.converged
    assert comp_dict(resumed) == comp_dict(straight)
    assert resumed.supersteps > 1  # continued, not restarted


def test_pagerank_resume_allclose(spark, tmp_path):
    pairs = both_dirs(golden.TWO_TRI_BRIDGE)
    e = golden.to_spark_edges(spark, pairs)
    straight = pagerank(spark, e, tol=1e-8)
    d = str(tmp_path / "pr")
    pagerank(spark, e, tol=1e-8, max_iter=3, checkpoint_dir=d)
    resumed = pagerank(spark, e, tol=1e-8, checkpoint_dir=d, resume=True)
    a, b = pr_dict(straight), pr_dict(resumed)
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-9


def test_lineage_metrics_written(spark, tmp_path):
    """Each superstep's lineage row, observed while its state was
    written, equals the row count and Σ xxhash64 of that state's files
    read back."""
    e = golden.to_spark_edges(spark, golden.DISCONNECTED)
    d = str(tmp_path / "ccm")
    res = connected_components(spark, e, checkpoint_dir=d)
    m = spark.read.parquet(f"{d}/metrics")
    cols = set(m.columns)
    assert {"algo", "superstep", "partition_id", "rows", "checksum", "delta", "wall_ms"} <= cols
    recs = {r.superstep: r for r in m.collect()}
    assert sorted(recs) == list(range(res.supersteps + 1))
    for k, rec in recs.items():
        state = spark.read.parquet(f"{d}/state/step={k}")
        assert state.columns == ["id", "comp"]
        got = state.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64(*state.columns).cast("decimal(38,0)")).alias("ck"),
        ).first()
        assert (rec.partition_id, rec.rows) == (-1, 10)
        assert (rec.rows, rec.checksum) == (got.rows, str(got.ck))


METRICS_TYPES = {
    "algo": "string",
    "superstep": "int",
    "partition_id": "int",
    "rows": "bigint",
    "checksum": "string",
    "delta": "double",
    "wall_ms": "double",
}


def _rows_per_superstep(m) -> dict[int, int]:
    return {
        r.superstep: r.total
        for r in m.groupBy("superstep").agg(F.sum("rows").alias("total")).collect()
    }


def test_pagerank_checkpoint_metrics_table(spark, tmp_path):
    """A checkpointed PageRank, written then resumed, leaves a metrics/
    table with the checkpoint format's column types and one whole-state
    lineage row per superstep, whose rows are |V|."""
    pairs = both_dirs(golden.TWO_TRI_BRIDGE)
    e = golden.to_spark_edges(spark, pairs)
    d = str(tmp_path / "prm")
    pagerank(spark, e, tol=None, max_iter=2, checkpoint_dir=d)
    res = pagerank(spark, e, tol=None, max_iter=4, checkpoint_dir=d, resume=True)
    assert res.supersteps == 4
    m = spark.read.parquet(f"{d}/metrics")
    assert dict(m.dtypes) == METRICS_TYPES
    assert _rows_per_superstep(m) == {k: 6 for k in range(5)}
    with open(f"{d}/_latest.json") as f:
        assert json.load(f) == {
            "superstep": 4, "algo": "pagerank", "input_fingerprint": None,
        }


def test_resume_spark_written_metrics_layout(spark, tmp_path):
    """A checkpoint whose metrics/ table Spark itself wrote (the layout
    of checkpoints from before the driver-side metrics writer) still
    resumes, and the table stays readable after the new appends."""
    pairs = both_dirs(golden.TWO_TRI_BRIDGE)
    e = golden.to_spark_edges(spark, pairs)
    straight = pr_dict(pagerank(spark, e, tol=None, max_iter=3))
    d = str(tmp_path / "prold")
    pagerank(spark, e, tol=None, max_iter=1, checkpoint_dir=d)
    old = spark.read.parquet(f"{d}/metrics").collect()
    shutil.rmtree(f"{d}/metrics")
    spark.createDataFrame(
        old, ", ".join(f"{c} {t}" for c, t in METRICS_TYPES.items())
    ).write.parquet(f"{d}/metrics")
    assert os.path.exists(f"{d}/metrics/_SUCCESS")
    res = pagerank(spark, e, tol=None, max_iter=3, checkpoint_dir=d, resume=True)
    assert res.supersteps == 3
    got = pr_dict(res)
    assert max(abs(got[k] - straight[k]) for k in straight) < 1e-12
    m = spark.read.parquet(f"{d}/metrics")
    assert dict(m.dtypes) == METRICS_TYPES
    assert _rows_per_superstep(m) == {k: 6 for k in range(4)}


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Spark jobs of one 2-superstep checkpointed run on the golden graph at 8
# shuffle partitions (adaptive execution runs each shuffle stage as a job
# of its own). Each superstep runs one action, its state write: the delta,
# PageRank's dangling mass and the lineage row are observed metrics of
# that write. Before, the delta aggregation (2 jobs per superstep) and the
# per-partition lineage (2 jobs per written state, the initial one too)
# re-read every written state: PageRank 24, CC 27, LP 25 (no delta).
# PageRank was 34 while the metrics rows went through createDataFrame + a
# parquet write, every read-back inferred its schema and the vertex setup
# took three shuffles, and 25 while every cache kept the shuffle width.
# Change these only together with the plan change that explains the new
# number.
PAGERANK_CHECKPOINT_JOBS = 14
CC_CHECKPOINT_JOBS = 17
LP_CHECKPOINT_JOBS = 19


def _checkpoint_jobs(spark, tmp_path, algo: str, run) -> int:
    pairs = both_dirs(golden.TWO_TRI_BRIDGE)
    e = golden.to_spark_edges(spark, pairs)
    e.cache().count()
    d = str(tmp_path / "jobs")
    n = _jobs_in_group(spark, f"test-{algo}-jobs", lambda: run(e, d))
    e.unpersist()
    return n


def test_pagerank_checkpoint_job_count(spark, tmp_path):
    n = _checkpoint_jobs(
        spark, tmp_path, "pagerank",
        lambda e, d: pagerank(spark, e, tol=1e-12, max_iter=2, checkpoint_dir=d),
    )
    assert n == PAGERANK_CHECKPOINT_JOBS


def test_cc_checkpoint_job_count(spark, tmp_path):
    n = _checkpoint_jobs(
        spark, tmp_path, "cc",
        lambda e, d: connected_components(spark, e, max_iter=2, checkpoint_dir=d),
    )
    assert n == CC_CHECKPOINT_JOBS


def test_lp_checkpoint_job_count(spark, tmp_path):
    n = _checkpoint_jobs(
        spark, tmp_path, "lp",
        lambda e, d: label_propagation(spark, e, n_iter=2, checkpoint_dir=d),
    )
    assert n == LP_CHECKPOINT_JOBS


def test_pagerank_fixed_k_dangling_vs_oracle(spark, tmp_path):
    """Fixed-K PageRank on a graph with dangling vertices: the dangling
    mass comes from the setup row, then from each write's observation —
    and, resumed from a checkpoint, from one aggregation. Every superstep
    yields one delta, max|r_k − r_{k−1}|, resumed ones included."""
    pairs = DIRECTED_DANGLING
    e = golden.to_spark_edges(spark, pairs)
    ranks = [ref.pagerank(pairs, n_iter=k) for k in range(6)]
    want = ranks[5]
    want_deltas = [
        max(abs(ranks[k][v] - ranks[k - 1][v]) for v in want) for k in range(1, 6)
    ]
    res = pagerank(spark, e, tol=None, max_iter=5)
    got = pr_dict(res)
    assert set(got) == set(want)
    assert max(abs(got[k] - want[k]) for k in want) < 1e-12
    assert len(res.deltas) == 5
    assert max(abs(a - b) for a, b in zip(res.deltas, want_deltas)) < 1e-12
    d = str(tmp_path / "prd")
    pagerank(spark, e, tol=None, max_iter=2, checkpoint_dir=d)
    res = pagerank(spark, e, tol=None, max_iter=5, checkpoint_dir=d)
    resumed = pr_dict(res)
    assert max(abs(resumed[k] - want[k]) for k in want) < 1e-12
    assert len(res.deltas) == 3
    assert max(abs(a - b) for a, b in zip(res.deltas, want_deltas[2:])) < 1e-12


def test_lp_signed_extreme_labels_vs_oracle(spark):
    """The packed argmax key takes any signed 64-bit label, the extremes
    included, and still breaks count ties toward the smallest label."""
    ids = {1: -(1 << 63), 2: (1 << 63) - 1, 3: -1, 4: 0, 5: 7, 6: -(1 << 62)}
    pairs = np.array(
        [(ids[a], ids[b]) for a, b in golden.TWO_TRI_BRIDGE], dtype=np.int64
    )
    e = golden.to_spark_edges(spark, pairs)
    for n_iter in (1, 3):
        res = label_propagation(spark, e, n_iter=n_iter)
        assert comp_dict(res, "label") == ref.label_propagation(pairs, n_iter=n_iter)


def test_lp_count_bound_raises_before_supersteps(spark, monkeypatch):
    """A degree at or above the packed key's count bound is refused with
    a clear error before any superstep runs."""
    monkeypatch.setattr(iterative, "LP_MAX_COUNT", 3)  # star_hub's hub: 50
    e = golden.to_spark_edges(spark, golden.ALL["star_hub"])
    with pytest.raises(ValueError, match="packed argmax key"):
        label_propagation(spark, e, n_iter=2)


def test_cc_isolated_vertices(spark):
    """Vertices table larger than edge endpoints: isolated ids keep
    their own component."""
    e = golden.to_spark_edges(spark, golden.DISCONNECTED)
    verts = spark.createDataFrame([(i,) for i in [10, 11, 12, 13, 14, 20, 21, 22, 30, 31, 99]], "id long")
    res = connected_components(spark, e, vertices=verts)
    comps = comp_dict(res)
    assert comps[99] == 99
